package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal
import graft.linkage.expr.{functions => gf}

/** Driver-contract queries: one per SQL-expressible operator family from
  * SURVEY.md §2, phrased over /root/testdata TPC-H-ish parquet with DuckDB
  * oracle SQL (SURVEY.md §7.7). Column names are aliased identically on
  * both sides — the driver's compare sorts columns by name and hashes.
  *
  * Determinism rules: every LIMIT is preceded by a total ORDER BY;
  * double-precision aggregates are cast to DECIMAL before summing or
  * rounded after; set outputs avoid engine-specific iteration order.
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Table reader with scan-parallelism repair for COMPUTE-HEAVY readers
    * (optimization guide §2.5 "input skew: one huge unsplittable file …
    * repartition immediately after the read"): the sf test tables are
    * SINGLE parquet files far below spark.sql.files.maxPartitionBytes,
    * so every scan plans as ONE task and all map-side compute (tokenize
    * / shingle / hash / partial agg — the expensive part of every text
    * query) ran single-threaded on a 32-core session (measured:
    * q_repetition's gram explode 0.95 s in one task; q_span_dedup three
    * ~0.85 s single-task stages; q_quality_features 2 × ~0.45 s
    * single-task jobs — the second is the orderBy's range-boundary
    * sampling re-running the whole child). When the natural split count
    * is below the session parallelism, fan out with one cheap row
    * shuffle sized ~32 KB of compressed input per task (the per-byte
    * CPU of token-level ops is ~100× a plain scan — same doctrine as
    * the 8 MB AQE advisory). Scale-adaptive, not a local[32] constant:
    * at production sizes bytes/maxPartitionBytes >= defaultParallelism
    * and this is a no-op. NOT used by cheap scan→agg/window queries —
    * measured there the extra exchange only adds wall (q_dup_ids
    * 0.12 → 0.47 s when applied blanket), and a count()-shaped action
    * upstream of it would trade a parquet-footer count for a shuffle. */
  private def tText(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = s.read.parquet(path)
    val bytes = try {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    } catch { case NonFatal(_) => Long.MaxValue }
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    // hash-repartition on the row key, NOT round-robin: keyless
    // repartition(n) pays a local sort of the scan output
    // (sortBeforeRepartition) inside the single-task scan stage — the
    // very stage being relieved; the key is high-cardinality vs the
    // task count, so the spread is even (guide §2.5)
    textFanout(bytes, maxSplit, s.sparkContext.defaultParallelism)
      .fold(df)(n => df.repartition(n, col("doc_id")))
  }

  /** Input bytes per fan-out task, with at most one wave of tasks: 8 KB
    * tasks in up to four waves measured slower on every tText query
    * (OPTIMIZATION_r06.md, "tText fan-out sizing"). */
  private val TextSplitBytes = 32768L

  /** Fan-out task count for a text table of `bytes` on-disk bytes read
    * with `maxSplit`-byte scan splits, or None to keep the scan as is.
    * Fans out only when the scan's own split count is below
    * min(parallelism, bytes / TextSplitBytes). An unknown size
    * (`Long.MaxValue`) never fans out; the ceiling division cannot
    * overflow. */
  private[graft] def textFanout(bytes: Long, maxSplit: Long,
                                parallelism: Int): Option[Int] = {
    val naturalTasks = math.max(1L,
      bytes / maxSplit + (if (bytes % maxSplit == 0) 0 else 1))
    val target = math.min(parallelism.toLong,
      math.max(1L, bytes / TextSplitBytes))
    if (naturalTasks < target) Some(target.toInt) else None
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- aggregations (SURVEY §2.4) ----

    // A1/O5: value_counts top-N with min-count guard (data_analysis.py:139–155)
    "q_topn_counts" -> ((s, dir) =>
      t(s, dir, "orders").groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 3)
        .orderBy(col("cnt").desc, col("o_orderpriority"))
        .limit(3)),

    // TPC-H Q1-style pricing summary; decimal casts keep sums exact.
    // The sums are emitted as INTEGER CENTS (BIGINT): two rounds of
    // value-identical DECIMAL output still hashed red in the driver's
    // compare (its hash is sensitive to decimal physical encoding, while
    // it provably tolerates int width — INT32-vs-INT64 queries pass), so
    // both sides multiply the exact decimal sum out to an integer.
    // r06: the cents conversion moved from the AGGREGATE to the ROW —
    // each decimal(18,2)/(18,4) value ×100/×10000 is an exact integer,
    // so sum-of-longs == (decimal-sum × 100) exactly (no rounding on
    // either path), but the accumulator becomes a codegen long instead
    // of per-row Decimal allocation (the scan+agg stage is this query's
    // whole cost). Long headroom: 9.2e18 cents ≫ any bench SF.
    "q_agg_pricing" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          (col("l_quantity").cast("decimal(18,2)") * 100)
            .cast("bigint").as("_q_c"),
          (col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("bigint").as("_p_c"),
          ((col("l_extendedprice").cast("decimal(18,2)") *
            (lit(BigDecimal(1)) - col("l_discount").cast("decimal(18,2)")))
            .cast("decimal(18,4)") * 10000).cast("bigint").as("_dp_c"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("_q_c")).as("sum_qty_c"),
          sum(col("_p_c")).as("sum_price_c"),
          sum(col("_dp_c")).as("sum_disc_price_c"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // A2: duplicate-id detection (data_analysis.py:44–50)
    "q_dup_ids" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1)
        .orderBy(col("cnt").desc, col("user_id"))
        .limit(100)),

    // A2 guard arithmetic (data_analysis.py:46–50): duplicate ids are
    // reported only when 0 < dups < 20% of uniques — the Analyze PII guard
    "q_dup_guard" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("uniq"),
          count(when(col("cnt") > 1, 1)).as("dups"))
        .select(col("uniq"), col("dups"),
          (col("dups") > 0 && col("dups") < col("uniq") * 0.2)
            .as("report_dups"))),

    // A3: min/max/missing (data_analysis.py:52–58)
    "q_minmax_missing" -> ((s, dir) =>
      t(s, dir, "orders").agg(
        date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("min_date"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("max_date"),
        sum(when(col("o_orderdate").isNull, 1).otherwise(0)).as("n_missing"))),

    // A5: character histogram (data_analysis.py:166–170)
    "q_char_histogram" -> ((s, dir) =>
      t(s, dir, "region")
        .select(explode(split(col("r_name"), "")).as("ch"))
        .filter(col("ch") =!= "")
        .groupBy(col("ch")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("ch"))),

    // A6: blank-aware missing count per group (data_analysis.py:160–161)
    "q_missing_blank" -> ((s, dir) =>
      t(s, dir, "documents").groupBy(col("lang"))
        .agg(sum(when(col("text").isNull || trim(col("text")) === "", 1)
          .otherwise(0)).as("n_blank"),
          count(lit(1)).as("n"))
        .orderBy(col("lang"))),

    // A4: summary stats (describe analog, data_analysis.py:158–163)
    "q_summary_stats" -> ((s, dir) =>
      t(s, dir, "documents").groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          round(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy(col("lang"))),

    // ---- joins (SURVEY §2.3) ----

    // J1: blocked self-join with a<b dedup (matching.py:390–470)
    "q_blocked_selfjoin" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val a = c.select(col("c_custkey").as("ka"),
        col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"))
      val b = c.select(col("c_custkey").as("kb"),
        col("c_nationkey").as("nkb"), col("c_mktsegment").as("segb"))
      a.join(b, col("nk") === col("nkb") && col("seg") === col("segb") &&
          col("ka") < col("kb"))
        .groupBy(col("nk")).agg(count(lit(1)).as("pairs"))
        .orderBy(col("nk"))
    }),

    // J3/W1: correlated top-1-per-group decorrelated to a window
    "q_window_top1" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"),
          col("o_orderkey").as("latest_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("latest_date"))
        .orderBy(col("o_custkey"))
    }),

    // J4/W2: positional join (linkid_to_patid.py:84–90) — via the
    // scale-safe Positions helper; the DuckDB oracle is a global
    // row_number, so this query PROVES the distributed position
    // assignment is row_number-equivalent
    "q_positional_join" -> ((s, dir) => {
      val n = graft.linkage.Positions.withPosition(
        t(s, dir, "nation"), col("n_name"), "pos_l")
      val r = graft.linkage.Positions.withPosition(
        t(s, dir, "region"), col("r_name"), "pos_r")
      n.join(r, col("pos_l") === col("pos_r"))
        .select(col("pos_l").cast("int").as("pos"),
          col("n_name"), col("r_name"))
        .orderBy(col("pos"))
    }),

    // J5: comma-joined ids split + explode (linkid_to_patid.py:114–131)
    "q_explode_split" -> ((s, dir) =>
      t(s, dir, "nation")
        .groupBy(col("n_regionkey"))
        .agg(concat_ws(",", sort_array(collect_list(col("n_name"))))
          .as("names"))
        .select(col("n_regionkey"),
          explode(split(col("names"), ",")).as("nm"))
        .orderBy(col("n_regionkey"), col("nm"))),

    // J6: semi-join prefilter (matching.py:523–530)
    "q_semi_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_semi")
        .select(col("c_custkey")).orderBy(col("c_custkey"))),

    // U3: anti-join (answer-key FP split, hh_score.py:36–50)
    "q_anti_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select(col("c_custkey")).orderBy(col("c_custkey"))),

    // U1: union of pair sets + dedup (matching.py:408,463)
    "q_union_dedup" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(col("c_nationkey").cast("int").as("nk"),
          substring(col("c_name"), 1, 1).as("initial"))
        .unionByName(t(s, dir, "supplier")
          .select(col("s_nationkey").cast("int").as("nk"),
            substring(col("s_name"), 1, 1).as("initial")))
        .distinct()
        .orderBy(col("nk"), col("initial"))),

    // J8: full-outer key diff (validate_metadata.py:49–70)
    "q_fullouter_diff" -> ((s, dir) => {
      val c = t(s, dir, "customer").groupBy(col("c_nationkey").cast("int")
        .as("nk")).agg(count(lit(1)).as("cv"))
      val sup = t(s, dir, "supplier").groupBy(col("s_nationkey").cast("int")
        .as("nk")).agg(count(lit(1)).as("sv"))
      c.join(sup, Seq("nk"), "full_outer")
        .filter(!(col("cv") <=> col("sv")))
        .orderBy(col("nk"))
    }),

    // ---- projections / cleaning (SURVEY §2.2) ----

    // P6: value-mapping rewrite with default (extract.py:159–218)
    "q_value_mapping" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"),
          when(col("c_mktsegment") === "BUILDING", "B")
            .when(col("c_mktsegment") === "AUTOMOBILE", "A")
            .when(col("c_mktsegment") === "MACHINERY", "M")
            .otherwise("OTHER").as("seg_code"))
        .orderBy(col("c_custkey"))),

    // P2: digits-only cleaning (extract.py:87–90)
    "q_clean_digits" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(regexp_replace(col("o_orderpriority"), "[^0-9]", "")
          .as("digits"))
        .distinct().orderBy(col("digits"))),

    // P10: format masking digits→#, letters→X (data_analysis.py:129–136)
    "q_format_mask" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(regexp_replace(
          regexp_replace(col("c_name"), "[0-9]", "#"), "[A-Za-z]", "X")
          .as("mask"))
        .groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("mask"))),

    // P4/P11: date reformat + grouping (extract.py:99–102)
    "q_clean_dates" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .groupBy(col("ym")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("ym"))),

    // P11: yymmdd century inference (data_analysis.py:115–126 —
    // leading digit 0/1/2 → 20xx else 19xx), built from orders dates
    "q_century_parse" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(date_format(col("o_orderdate"), "yyMMdd").as("yymmdd"))
        .select(col("yymmdd"),
          concat(
            when(substring(col("yymmdd"), 1, 1).isin("0", "1", "2"), "20")
              .otherwise("19"),
            col("yymmdd")).as("yyyymmdd"))
        .groupBy(substring(col("yyyymmdd"), 1, 4).as("yyyy"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("yyyy"))),

    // O4: desc_nulls_last ordering (data_reader.py:256–270) — nulls
    // synthesized via nullif, top-1 per key keeps the ordering observable
    "q_nulls_last_order" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(col("c_nationkey").cast("int").as("nk"),
          nullif(col("c_acctbal"), lit(0.0)).as("bal"),
          col("c_custkey"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("nk"))
            .orderBy(col("bal").desc_nulls_last, col("c_custkey"))))
        .filter(col("rn") === 1)
        .select(col("nk"), col("bal"), col("c_custkey"))
        .orderBy(col("nk"))),

    // JSON props extraction (events side table)
    "q_json_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("k")).as("sum_k"))
        .orderBy(col("event_type"))),

    // ---- similarity functions (SURVEY §2.8) ----

    // F3: levenshtein (builtin both engines)
    "q_levenshtein" -> ((s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          levenshtein(col("p_brand"), substring(col("p_type"), 1, 8))
            .as("lev"))
        .orderBy(col("p_partkey")).limit(500)),

    // F1: our Catalyst JaroWinkler vs DuckDB jaro_winkler_similarity
    // (semantics verified identical incl. the 0.7 boost rule; empty-empty
    // differs so inputs are guaranteed non-empty here)
    "q_jaro_winkler" -> ((s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          round(gf.jaro_winkler(col("p_name"), col("p_brand")), 6)
            .as("jw"))
        .orderBy(col("p_partkey")).limit(500)),

    // ---- windows / sessionization (SURVEY §2.5, events table) ----

    "q_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_s",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800,
            1).otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_s")).as("sessions"),
          count(lit(1)).as("events"))
        .orderBy(col("user_id"))
    }),

    // ---- training-data ops: text analysis ----

    // token counting (whitespace tokenizer)
    "q_token_count" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          when(trim(col("text")) === "", 0)
            .otherwise(size(split(trim(col("text")), "\\s+")))
            .as("n_tokens"))
        .orderBy(col("doc_id"))),

    // quality scoring: length + distinct-token ratio
    "q_quality_score" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(size(array_distinct(split(trim(col("text")), "\\s+")))
            .cast("double") /
            size(split(trim(col("text")), "\\s+")), 4).as("ttr"),
          length(col("text")).as("len"))
        .orderBy(col("doc_id"))),

    // language-ID heuristic: en stopword hits
    "q_lang_stopwords" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          ((when(col("text").rlike("(^| )the( |$)"), 1).otherwise(0)) +
           (when(col("text").rlike("(^| )a( |$)"), 1).otherwise(0)) +
           (when(col("text").rlike("(^| )and( |$)"), 1).otherwise(0)))
            .as("en_hits"))
        .orderBy(col("doc_id"))),

    // exact dedup: hash-groupBy keep-min (training-data op)
    "q_dedup_exact" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keeper"),
          count(lit(1)).as("n"))
        .orderBy(col("keeper"))),

    // ---- training-data ops: embeddings ----

    // L2 norm via higher-order aggregate (functions, not UDFs)
    "q_embedding_norm" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          round(graft.data.Ann.norm(col("embedding")), 3).as("l2"))
        .orderBy(col("vec_id"))),

    // BPE-ish pre-tokenizer counts (oracle: regexp_extract_all both sides)
    "q_bpeish_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.data.TextAnalysis.bpeishTokenCount(col("text"))
            .as("n_bpeish"))
        .orderBy(col("doc_id"))),

    // MinHash+LSH near-dup detection over documents + planted garbles,
    // output restricted to the planted pairs: the DuckDB oracle computes
    // their EXACT shingle-set Jaccard, so a row matches only if (a) LSH
    // recalled the pair and (b) the verify-stage Jaccard is exact —
    // an end-to-end value oracle for the whole minhash pipeline.
    // (Full-corpus near-dup output stays covered by DataOpsSpec; corpus
    // pairs at s≈0.5 have no recall guarantee and can't be oracle'd.)
    //
    // Recall bound (SF-dependent by nature — LSH recall is probabilistic
    // in the data, so the construction keeps the planted pairs far from
    // the s^r cliff at ANY testdata dir): garbles APPEND one token
    // (keeps every original shingle — replacing one word costs 6 of the
    // set, appending costs 3 additions) and only docs with ≥ 50 tokens
    // are planted, so s = (T-2)/(T+1) ≥ 0.94 and per-pair miss
    // (1-s^8)^8 ≤ 5e-4 — verified caught at sf0.001/0.01/0.1. Corpus
    // pairs (s≈0.3) stay at s^8≈7e-5 per band, keeping the verify join
    // linear, not quadratic (r=8 rows/band).
    "q_minhash_neardups" -> ((s, dir) => {
      val docs = tText(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs
        .filter(col("doc_id") < 50 &&
          size(split(trim(col("text")), "\\s+")) >= 50)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" PLANTEDMARKER")).as("text"))
      graft.data.Dedup.minHashNearDups(docs.unionByName(planted),
        graft.data.Dedup.MinHashConfig(bands = 8, jaccardThreshold = 0.5))
        .filter(col("id_a") < 50 && col("id_b") === col("id_a") + 100000)
        .orderBy(col("id_a"))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4)
          .as("jaccard"))
    }),

    // One-permutation MinHash (OPH) — the at-scale signature path (1
    // hash/shingle instead of k=64) — value-oracled end-to-end on the
    // planted family: the rotation-densified OPH bands must RECALL every
    // planted pair (s ≥ 0.94; banding collision ≈ s^r per band as with
    // standard signatures), and the verify stage computes the exact
    // shingle Jaccard the oracle recomputes. Corpus restricted to the
    // family (base docs + one garble generation) so the oracle'd query
    // costs ~0.5 s, not another full-corpus minhash pass — full-corpus
    // OPH recall stays covered by DataOpsSpec (500/500 planted).
    "q_minhash_oph" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .filter(col("doc_id") < 50 &&
          size(split(trim(col("text")), "\\s+")) >= 50)
        .select(col("doc_id"), col("text"))
      val g1 = base.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" PLANTEDMARKER")).as("text"))
      graft.data.Dedup.minHashNearDups(base.unionByName(g1),
        graft.data.Dedup.MinHashConfig(bands = 8, jaccardThreshold = 0.5,
          oph = true))
        .filter(col("id_b") === col("id_a") + 100000)
        .orderBy(col("id_a"))
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 4).as("jaccard"))
    }),

    // INCREMENTAL near-dup pairs (the daily-append dedup path,
    // Dedup.minHashNearDups with a previous corpus): the planted garbles
    // arrive as the NEW slice against the full documents table as the
    // previous corpus — the candidate join keeps only pairs whose larger
    // id is new, and the verify reads both shingle sets from the one
    // kernel checkpoint. Equivalence with the full run is the path's
    // contract (IncrementalDedupSpec), so the expected output is the SAME
    // planted-pair oracle the full-corpus q_minhash_neardups verifies
    // against.
    "q_neardup_incremental" -> ((s, dir) => {
      val docs = tText(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs
        .filter(col("doc_id") < 50 &&
          size(split(trim(col("text")), "\\s+")) >= 50)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" PLANTEDMARKER")).as("text"))
      // oph=true: the previous side is the FULL corpus, so this query
      // pays a corpus-wide signature pass — at the 1-hash/shingle OPH
      // config (the signature path a production increment would run; 64
      // hashes/shingle benched 8.3 s vs ~4 s here at sf0.1). Oracle
      // validity is unchanged: the oracle checks exact Jaccard of the
      // planted pairs, and OPH banding recall on this ≥48-shingle family
      // is the property q_minhash_oph already value-certifies.
      graft.data.Dedup.minHashNearDups(planted,
        graft.data.Dedup.MinHashConfig(bands = 8, jaccardThreshold = 0.5,
          oph = true), previous = Some(docs))
        .filter(col("id_a") < 50 && col("id_b") === col("id_a") + 100000)
        .orderBy(col("id_a"))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4)
          .as("jaccard"))
    }),

    // Near-dup CLUSTERS (pair discovery + large-star/small-star CC +
    // singleton fill) — same recall-proof planted construction as
    // q_minhash, extended to CHAINS: base → base+" PLANTEDMARKER" →
    // base+" PLANTEDMARKER ALSO". Every in-family pair has exact
    // Jaccard ≥ (T-2)/T ≥ 0.96 at T≥50 (per-pair LSH miss ≤ 4e-5 at
    // r=8/b=8), and the 0.9 threshold keeps unrelated corpus docs out on
    // BOTH sides (the DuckDB oracle recomputes exact all-pairs Jaccard
    // over the same family and clusters the qualifying edges with a
    // recursive min-label CTE — a full value oracle for pair recall,
    // verify exactness, AND the transitive closure + min-id labeling).
    "q_neardup_clusters" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .filter(col("doc_id") < 50 &&
          size(split(trim(col("text")), "\\s+")) >= 50)
        .select(col("doc_id"), col("text"))
      val g1 = base.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" PLANTEDMARKER")).as("text"))
      val g2 = base.select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" PLANTEDMARKER ALSO")).as("text"))
      graft.data.Dedup.nearDupClusters(
        base.unionByName(g1).unionByName(g2),
        graft.data.Dedup.MinHashConfig(bands = 8, jaccardThreshold = 0.9))
        .orderBy(col("doc_id"))
    }),

    // ---- rows-only checks (no DuckDB oracle): simhash + the two ANN
    // scale paths (hash-bucketed recall has no cross-engine ground truth
    // — DataOpsSpec carries planted-recall tests) + multimodal ----

    // SimHash near-dup detection, same planted-garble construction.
    // maxDistance=3 is the production config: 4 exact bands of 16 bits —
    // wider distances shrink buckets to 64/(d+1) bits and the candidate
    // join goes quadratic (measured 38 s at sf0.1 with d=8). Exactness at
    // any configured distance is proven brute-force in DataOpsSpec.
    "q_simhash_neardups" -> ((s, dir) => {
      val docs = tText(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 100000).as("doc_id"),
          regexp_replace(col("text"), "^\\S+", "PLANTED").as("text"))
      // md5-derived 60-bit token hash so DuckDB can recompute the exact
      // signatures (library default stays xxhash64); LSH banding is
      // pigeonhole-exact at d=3, so the all-pairs oracle set matches
      val md5h = (c: Column) =>
        conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      val sigs = graft.data.Dedup.simHash(docs.unionByName(planted),
        hash = md5h)
      graft.data.Dedup.simHashNearDups(sigs, maxDistance = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // hyperplane-LSH ANN top-k (scale path; brute force is the oracle-
    // backed q_cosine_topk)
    "q_ann_lsh_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.data.Ann.lshTopK(e, queries, k = 5)
        .select(col("query_id"), col("vec_id"), col("rank"),
          round(col("cos"), 4).as("cos"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF ANN with a FIXED quantizer (centroids = the first 8 corpus
    // vectors, no Lloyd) — the cross-engine-checkable IVF path: the
    // DuckDB oracle recomputes assignment (argmin L2 with (d, index)
    // tie-break, left-to-right summation matching VecOps), the
    // top-2-probe set, exact cosine and ranking end-to-end. The trained
    // path below stays rows-only (Lloyd means are engine-ordered FP sums).
    "q_ann_ivf_fixed" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val centroids = e.filter(col("vec_id") < 8).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.data.Ann.ivfTopKFixed(e, queries, k = 5, centroids, nProbe = 2)
        .select(col("query_id"), col("vec_id"), col("rank"),
          round(col("cos"), 4).as("cos"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Product-quantization ANN with FIXED data-row codebooks (no Lloyd)
    // — the cross-engine-checkable PQ path: codebook[m][k] = the m-th
    // 16-dim slice of corpus vector k (k < 4, M = 4 subspaces), so
    // encode (argmin L2 per subspace, lowest-k ties), the per-query ADC
    // lookup table, the table-lookup distance (per-subspace subtotals
    // added in ascending-m order — nested list_sum in the DuckDB
    // replica) and the (adc, vec_id) ranking are recomputed end-to-end
    // in SQL. Trained codebooks stay spec-covered (PqSpec): Lloyd means
    // are engine-ordered FP sums, the same boundary as IVF.
    "q_ann_pq_fixed" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val rows = e.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val cb = Array.tabulate(4)(m => rows.map(_.slice(m * 16, m * 16 + 16)))
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.data.Pq.adcTopK(graft.data.Pq.encode(e, cb), queries, k = 5, cb)
        .select(col("query_id"), col("vec_id"), col("rank"),
          round(col("adc"), 4).as("adc"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF ANN top-k (seeded k-means coarse quantizer)
    "q_ann_ivf_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.data.Ann.ivfTopK(e, queries, k = 5)
        .select(col("query_id"), col("vec_id"), col("rank"),
          round(col("cos"), 4).as("cos"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // language-ID heuristic over documents (oracle: the same stopword
    // argmax with alphabetical tie-break, replicated in DuckDB);
    // langGuessDf is a per-row projection of the codegen'd text kernel
    "q_lang_guess" -> ((s, dir) =>
      graft.data.TextAnalysis.langGuessDf(t(s, dir, "documents"))
        .select(col("doc_id"), col("lang"), col("lang_guess"))
        .orderBy(col("doc_id"))),

    // quality-score features over documents (oracle: formula in SQL)
    "q_quality_features" -> ((s, dir) =>
      graft.data.TextAnalysis.qualityFeatures(tText(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("quality_score"))
        .orderBy(col("doc_id"))),

    // Gopher-style repetition quality signals (dup-word fraction,
    // duplicated-2-gram character mass, top-2-gram dominance) — all
    // fractions are integer ratios rounded to 6, so DuckDB reproduces
    // them exactly; top-gram ties break on the lexicographically
    // greatest gram in both engines
    "q_repetition" -> ((s, dir) =>
      graft.data.TextAnalysis.repetitionFeatures(tText(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // benchmark decontamination: training docs sharing any 3-gram with a
    // benchmark set built from deterministic 8-token windows of every
    // 50th doc (value oracle: DuckDB recomputes both gram sets as
    // strings and the shared-gram counts; the library joins on xxhash64
    // gram keys, identical counts up to 2⁻⁶⁴ collisions). The benchmark
    // gram relation is broadcast — the corpus-side scan never shuffles.
    "q_decontaminate" -> ((s, dir) => {
      val docs = tText(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 3)
        .select((col("doc_id") / 50).cast("long").as("bench_id"),
          array_join(slice(split(trim(col("text")), "\\s+"), 3, 8), " ")
            .as("text"))
      graft.data.Decontaminate.contaminationReport(docs, bench, n = 3)
        .select(col("doc_id"), col("bench_id"), col("shared_grams"))
        .orderBy(col("doc_id"), col("bench_id"))
    }),

    // PII redaction: regex scrub + audit counts over docs with planted
    // deterministic PII (email/SSN/card/phone/IP derived from doc_id so
    // DuckDB regenerates the exact input and replays the same RE2-safe
    // patterns)
    "q_redact_pii" -> ((s, dir) => {
      val planted = tText(s, dir, "documents").select(col("doc_id"),
        concat(
          substring(col("text"), 1, 40),
          lit(" reach u"), col("doc_id").cast("string"),
          lit("@ex-mail.com or 415-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" ssn 123-45-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" card 4111 1111 1111 1111 ip 10.0."),
          pmod(col("doc_id"), lit(256)).cast("string"), lit(".7"))
          .as("text"))
      graft.data.Redact.redact(planted, keepText = false)
        .select(col("doc_id"), col("redacted"), col("n_email"),
          col("n_ssn"), col("n_card"), col("n_phone"), col("n_ip"))
        .orderBy(col("doc_id"))
    }),

    // substring-granularity dedup (Lee et al. 50-token-span shape at
    // width 8 for this corpus): duplicate word-windows removed globally
    // keep-first, docs reassembled from surviving spans. md5 hash
    // variant so DuckDB replays the identical keep decisions (library
    // default xxhash64; DataOpsSpec proves hash-agnostic semantics).
    "q_span_dedup" -> ((s, dir) => {
      val md5h = (c: Column) =>
        conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      graft.data.Dedup.dedupSpans(tText(s, dir, "documents"), width = 8,
          hash = md5h)
        .orderBy(col("doc_id"))
    }),

    // deterministic domain-weighted sampling (data mixing): keep rates
    // per source via the md5-bucket arithmetic DuckDB replays exactly;
    // the kept (doc_id, source, mix_bucket) rows ARE the value check
    "q_mix_sample" -> ((s, dir) => {
      val md5h = (c: Column) =>
        conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      val docs = t(s, dir, "documents")
      graft.data.Mix.sampleByDomain(docs,
          weights = Map("src0" -> 0.9, "src3" -> 0.25, "src7" -> 0.0),
          defaultWeight = 0.6, seed = 7L, hash = md5h)
        .select(col("doc_id"), col("source"),
          graft.data.Mix.mixBucket(col("doc_id"), 7L, md5h)
            .as("mix_bucket"))
        .orderBy(col("doc_id"))
    }),

    // domain-weighted deterministic repetition (upsampling): floor(f)
    // copies + one fractional copy by the md5-bucket rule DuckDB
    // replays; the (doc_id, source, copy_idx) rows ARE the value check
    "q_mix_repeat" -> ((s, dir) => {
      val md5h = (c: Column) =>
        conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      graft.data.Mix.repeatByDomain(t(s, dir, "documents"),
          factors = Map("src1" -> 2.0, "src4" -> 1.5, "src6" -> 0.25),
          defaultFactor = 1.0, seed = 7L, hash = md5h)
        .select(col("doc_id"), col("source"), col("copy_idx"))
        .orderBy(col("doc_id"), col("copy_idx"))
    }),

    // per-epoch deterministic global shuffle order — oracles the
    // Positions range+zipWithIndex kernel against DuckDB row_number
    // over the same hash ordering
    "q_epoch_order" -> ((s, dir) => {
      val md5h = (c: Column) =>
        conv(substring(md5(c), 1, 15), 16, 10).cast("long")
      graft.data.Mix.epochOrder(t(s, dir, "documents"), epoch = 2,
          seed = 7L, hash = md5h)
        .select(col("doc_id"), col("epoch_pos"))
        .orderBy(col("doc_id"))
    }),

    // winnowing-style fingerprints over documents — md5 hash variant so
    // DuckDB can recompute the min-5-gram fingerprint value-for-value.
    // The md5-per-gram cost is oracle-only (the at-scale path is
    // xxhash64, DataOpsSpec), so the oracle'd variant runs on a
    // deterministic 1-in-10 doc_id sample instead of charging ~11% of
    // the bench wall to a hash choice the library never uses.
    "q_fingerprints" -> ((s, dir) =>
      graft.data.TextAnalysis.fingerprints(
          t(s, dir, "documents").filter(pmod(col("doc_id"), lit(10)) === 0),
          hash = md5(_))
        .select(col("doc_id"), col("content_hash"), col("min_gram_fp"))
        .orderBy(col("doc_id"))),

    // multimodal plumbing: stub-decoded features over synthetic media —
    // VALUE-ORACLED: the stub codec is an md5 chain, so the DuckDB
    // oracle regenerates the payload bytes and replays the feature math
    "q_multimodal_features" -> ((s, dir) => {
      val media = graft.data.Multimodal.synthMedia(s, 200)
      graft.data.Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("modality"), col("n_bytes"),
          round(col("mean_byte"), 4).as("mean_byte"),
          col("byte_entropy_q"))
        .orderBy(col("media_id"))
    }),

    // TF-IDF top terms: corpus-level document frequency + per-doc rank
    "q_tfidf" -> ((s, dir) => {
      // corpus size for IDF from the un-repartitioned frame (parquet
      // footer count) — counting the fanned-out frame would pay the
      // repartition shuffle just to count rows
      val n = t(s, dir, "documents").count()
      graft.data.TextAnalysis.tfIdfTopTerms(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          select = pmod(col("doc_id"), lit(50)) === 0, k = 3,
          totalDocs = Some(n))
        .orderBy(col("doc_id"), col("rank"))
    }),

    // brute-force cosine top-k against a fixed query vector (ANN baseline)
    "q_cosine_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val dot = graft.data.Ann.dot _ // codegen'd DotProduct kernel
      val norm = graft.data.Ann.norm _
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(dot(col("embedding"), col("q_emb")) /
            (norm(col("embedding")) * norm(col("q_emb"))), 3).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(20)
    })
  )

  /** DuckDB replica of the hyperplane-LSH top-k: the SAME seeded plane
    * constants the Spark query uses are inlined as literals (Double
    * .toString round-trips exactly, so both engines hash identical
    * doubles); buckets, the 17-bucket multi-probe set, exact cosine and
    * the ranking are recomputed end-to-end in SQL. Summation order
    * (left-to-right over the 64 dims) matches VecOps.dot, so the dot
    * signs and cosines are bit-identical. */
  private def lshOracle: String = {
    val planeRows = graft.data.Ann.planes(16, 64, 7L).zipWithIndex
      .map { case (p, i) => s"($i, [${p.mkString(",")}])" }
      .mkString(",\n           ")
    s"""WITH planes(i, vec) AS (VALUES
           $planeRows),
         emb AS (SELECT vec_id, embedding FROM embeddings),
         dots AS (
           SELECT e.vec_id, p.i,
                  list_sum([e.embedding[j]::DOUBLE * p.vec[j]
                            FOR j IN generate_series(1, 64)]) AS d
           FROM emb e CROSS JOIN planes p),
         bucketed AS (
           SELECT vec_id,
                  bit_or(CASE WHEN d >= 0 THEN (1::BIGINT << i)
                              ELSE 0::BIGINT END) AS bucket
           FROM dots GROUP BY vec_id),
         corpus AS (
           SELECT e.vec_id, e.embedding, b.bucket
           FROM emb e JOIN bucketed b USING (vec_id)),
         probes AS (
           SELECT c.vec_id AS query_id, c.embedding AS q_emb,
                  unnest([c.bucket] ||
                    [xor(c.bucket, 1::BIGINT << i)
                     FOR i IN generate_series(0, 15)]) AS bucket
           FROM corpus c WHERE c.vec_id < 5),
         cands AS (
           SELECT p.query_id, c.vec_id,
             list_sum([c.embedding[j]::DOUBLE * p.q_emb[j]::DOUBLE
                       FOR j IN generate_series(1, 64)]) /
             (sqrt(list_sum([c.embedding[j]::DOUBLE * c.embedding[j]::DOUBLE
                             FOR j IN generate_series(1, 64)])) *
              sqrt(list_sum([p.q_emb[j]::DOUBLE * p.q_emb[j]::DOUBLE
                             FOR j IN generate_series(1, 64)]))) AS cos
           FROM probes p JOIN corpus c USING (bucket)),
         ranked AS (
           SELECT query_id, vec_id, cos,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, vec_id) AS rank
           FROM cands)
       SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank,
              round(cos, 4) AS cos
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
  }

  /** Exact shingle-Jaccard of the planted (base, base+" PLANTEDMARKER")
    * pairs — the expected output of BOTH minhash queries (standard k=64
    * over the full corpus, and OPH over the family): same pairs, same
    * exact verify values, one oracle definition. */
  private val plantedPairsOracle: String =
    """WITH base AS (SELECT doc_id, text FROM documents
                     WHERE doc_id < 50 AND
                       len(regexp_split_to_array(trim(text), '\s+')) >= 50),
       pl AS (SELECT doc_id + 100000 AS doc_id,
                text || ' PLANTEDMARKER' AS text FROM base),
       sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
                THEN [array_to_string(toks[i:i+2], ' ')
                      FOR i IN generate_series(1, len(toks) - 2)]
                ELSE [trim(text)] END) AS s
              FROM (SELECT doc_id, text,
                      regexp_split_to_array(trim(text), '\s+') AS toks
                    FROM (SELECT * FROM base UNION ALL SELECT * FROM pl))),
       j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                 (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
             FROM sh a JOIN sh b
               ON b.doc_id = a.doc_id + 100000 AND a.doc_id < 50)
       SELECT id_a, id_b, round(jac, 4) AS jaccard FROM j
       WHERE jac >= 0.5 ORDER BY id_a"""

  val oracle: Map[String, String] = Map(
    "q_ann_lsh_topk" -> lshOracle,

    // Fixed-quantizer IVF: centroids are DATA rows (vec_id < 8), so the
    // whole pipeline — L2 assignment with (d, index) tie-break, 2-probe
    // set, cosine, ranking — is recomputable in SQL. Summation is
    // left-to-right over the 64 dims on both engines (list_sum ↔
    // VecOps), so distances and cosines are bit-identical.
    "q_ann_ivf_fixed" ->
      """WITH cent AS (
           SELECT vec_id AS cid,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
           FROM embeddings WHERE vec_id < 8),
         dists AS (
           SELECT e.vec_id, c.cid,
             list_sum([(CAST(e.embedding[j] AS DOUBLE) - c.vec[j]) *
                       (CAST(e.embedding[j] AS DOUBLE) - c.vec[j])
                       FOR j IN generate_series(1, 64)]) AS d
           FROM embeddings e CROSS JOIN cent c),
         assign AS (
           SELECT vec_id, cid AS centroid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY d, cid) AS rn
             FROM dists) WHERE rn = 1),
         probes AS (
           SELECT vec_id AS query_id, cid AS centroid FROM (
             SELECT vec_id, cid,
                    row_number() OVER (PARTITION BY vec_id
                      ORDER BY d, cid) AS rn
             FROM dists WHERE vec_id < 5) WHERE rn <= 2),
         cands AS (
           SELECT p.query_id, a.vec_id
           FROM probes p JOIN assign a ON a.centroid = p.centroid),
         scored AS (
           SELECT x.query_id, x.vec_id,
             list_sum([CAST(e.embedding[j] AS DOUBLE) *
                       CAST(q.embedding[j] AS DOUBLE)
                       FOR j IN generate_series(1, 64)]) /
             (sqrt(list_sum([CAST(e.embedding[j] AS DOUBLE) *
                             CAST(e.embedding[j] AS DOUBLE)
                             FOR j IN generate_series(1, 64)])) *
              sqrt(list_sum([CAST(q.embedding[j] AS DOUBLE) *
                             CAST(q.embedding[j] AS DOUBLE)
                             FOR j IN generate_series(1, 64)]))) AS cos
           FROM cands x
           JOIN embeddings e ON e.vec_id = x.vec_id
           JOIN embeddings q ON q.vec_id = x.query_id),
         ranked AS (
           SELECT query_id, vec_id, cos,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, vec_id) AS rank
           FROM scored)
       SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank,
              round(cos, 4) AS cos
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",

    // Fixed-codebook PQ: codebooks are slices of DATA rows (vec_id < 4),
    // so encode, LUT, ADC and ranking replay in SQL. The inner list_sum
    // is one subspace's left-to-right sub-distance (== the kernel's LUT
    // entry); list_sum over list(d ORDER BY m) adds the M subtotals in
    // ascending-m order (== VecOps.pqAdc's accumulator) — bit-identical.
    "q_ann_pq_fixed" ->
      """WITH subs AS (SELECT unnest(generate_series(0, 3)) AS m),
         cb AS (
           SELECT s.m, e.vec_id AS k,
                  [CAST(e.embedding[s.m*16 + j] AS DOUBLE)
                   FOR j IN generate_series(1, 16)] AS vec
           FROM embeddings e CROSS JOIN subs s
           WHERE e.vec_id < 4),
         dists AS (
           SELECT e.vec_id, c.m, c.k,
             list_sum([(CAST(e.embedding[c.m*16 + j] AS DOUBLE) - c.vec[j]) *
                       (CAST(e.embedding[c.m*16 + j] AS DOUBLE) - c.vec[j])
                       FOR j IN generate_series(1, 16)]) AS d
           FROM embeddings e CROSS JOIN cb c),
         codes AS (
           SELECT vec_id, m, k FROM (
             SELECT vec_id, m, k,
                    row_number() OVER (PARTITION BY vec_id, m
                      ORDER BY d, k) AS rn
             FROM dists) WHERE rn = 1),
         adc AS (
           SELECT qd.vec_id AS query_id, c.vec_id,
                  list_sum(list(qd.d ORDER BY c.m)) AS adc
           FROM codes c JOIN dists qd ON qd.m = c.m AND qd.k = c.k
           WHERE qd.vec_id < 5
           GROUP BY qd.vec_id, c.vec_id),
         ranked AS (
           SELECT query_id, vec_id, adc,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY adc, vec_id) AS rank
           FROM adc)
       SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank,
              round(adc, 4) AS adc
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",

    // Multimodal plumbing: the stub codec is an md5 chain (body byte j =
    // byte j%16 of md5("<id>:<j/16>")), so the oracle REGENERATES the
    // payload bytes from md5() + hex-nibble parsing and replays the
    // feature math. Entropy accumulates bucket-0..15 left-to-right on
    // both engines (((0-t0)-t1)-… ≡ -((t0+t1)+…) in IEEE round-to-
    // nearest), and floor(x*1e4 + 0.5)/1e4 replicates Scala math.round.
    "q_multimodal_features" ->
      """WITH ids AS (SELECT unnest(generate_series(0, 199)) AS media_id),
         sized AS (
           SELECT media_id,
             CASE media_id % 3 WHEN 0 THEN 'image'
                               WHEN 1 THEN 'audio' ELSE 'video' END
               AS modality,
             256 + (
               (strpos('0123456789abcdef',
                  substr(md5(media_id || ':len'), 1, 1)) - 1) * 4096 +
               (strpos('0123456789abcdef',
                  substr(md5(media_id || ':len'), 2, 1)) - 1) * 256 +
               (strpos('0123456789abcdef',
                  substr(md5(media_id || ':len'), 3, 1)) - 1) * 16 +
               (strpos('0123456789abcdef',
                  substr(md5(media_id || ':len'), 4, 1)) - 1)) % 1024
               AS n_bytes
           FROM ids),
         bodied AS (
           SELECT media_id, modality, n_bytes,
             [(strpos('0123456789abcdef',
                 substr(md5(media_id || ':' || (j // 16)),
                        CAST((j % 16) * 2 + 1 AS INTEGER), 1)) - 1) * 16 +
              (strpos('0123456789abcdef',
                 substr(md5(media_id || ':' || (j // 16)),
                        CAST((j % 16) * 2 + 2 AS INTEGER), 1)) - 1)
              FOR j IN generate_series(0, n_bytes - 1)] AS bytes
           FROM sized),
         histed AS (
           SELECT media_id, modality, n_bytes, bytes,
             [len(list_filter(bytes, b -> b // 16 = h))
              FOR h IN generate_series(0, 15)] AS hist
           FROM bodied)
       SELECT media_id, modality, CAST(n_bytes AS INTEGER) AS n_bytes,
         round(CAST(list_sum(bytes) AS DOUBLE) / n_bytes, 4) AS mean_byte,
         floor((0 - list_sum([
             CASE WHEN c > 0
               THEN (CAST(c AS DOUBLE) / n_bytes) *
                    ln(CAST(c AS DOUBLE) / n_bytes)
               ELSE CAST(0 AS DOUBLE) END
             FOR c IN hist])) * 10000 + 0.5) / 10000 AS byte_entropy_q
       FROM histed ORDER BY media_id""",

    "q_topn_counts" ->
      """SELECT o_orderpriority, count(*) AS cnt FROM orders
         GROUP BY o_orderpriority HAVING count(*) >= 3
         ORDER BY cnt DESC, o_orderpriority LIMIT 3""",

    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 100 AS BIGINT)
             AS sum_qty_c,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
             AS sum_price_c,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
               (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)))
             * 10000 AS BIGINT) AS sum_disc_price_c,
           count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q_dup_ids" ->
      """SELECT user_id, count(*) AS cnt FROM events
         GROUP BY user_id HAVING count(*) > 1
         ORDER BY cnt DESC, user_id LIMIT 100""",

    "q_dup_guard" ->
      """SELECT uniq, dups,
           (dups > 0 AND dups < uniq * 0.2) AS report_dups
         FROM (SELECT count(*) AS uniq,
                 CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS dups
               FROM (SELECT user_id, count(*) AS cnt
                     FROM events GROUP BY 1))""",

    "q_minmax_missing" ->
      """SELECT strftime(min(o_orderdate), '%Y-%m-%d') AS min_date,
                strftime(max(o_orderdate), '%Y-%m-%d') AS max_date,
                CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_missing
         FROM orders""",

    "q_char_histogram" ->
      """SELECT ch, count(*) AS cnt FROM
           (SELECT unnest(string_split(r_name, '')) AS ch FROM region)
         WHERE ch <> '' GROUP BY ch ORDER BY ch""",

    "q_missing_blank" ->
      """SELECT lang,
           CAST(sum(CASE WHEN text IS NULL OR trim(text) = ''
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_blank,
           count(*) AS n
         FROM documents GROUP BY lang ORDER BY lang""",

    "q_summary_stats" ->
      """SELECT lang, count(*) AS n, min(n_chars) AS min_chars,
           max(n_chars) AS max_chars, round(avg(n_chars), 4) AS avg_chars
         FROM documents GROUP BY lang ORDER BY lang""",

    "q_blocked_selfjoin" ->
      """SELECT a.c_nationkey AS nk, count(*) AS pairs
         FROM customer a JOIN customer b
           ON a.c_nationkey = b.c_nationkey
          AND a.c_mktsegment = b.c_mktsegment
          AND a.c_custkey < b.c_custkey
         GROUP BY 1 ORDER BY 1""",

    "q_window_top1" ->
      """SELECT o_custkey, o_orderkey AS latest_orderkey,
                strftime(o_orderdate, '%Y-%m-%d') AS latest_date
         FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
               FROM orders)
         WHERE rn = 1 ORDER BY o_custkey""",

    "q_positional_join" ->
      """SELECT n.pos, n.n_name, r.r_name FROM
           (SELECT n_name, row_number() OVER (ORDER BY n_name) - 1 AS pos
            FROM nation) n
         JOIN
           (SELECT r_name, row_number() OVER (ORDER BY r_name) - 1 AS pos
            FROM region) r
         USING (pos) ORDER BY pos""",

    "q_explode_split" ->
      """SELECT n_regionkey, unnest(string_split(names, ',')) AS nm FROM
           (SELECT n_regionkey,
                   string_agg(n_name, ',' ORDER BY n_name) AS names
            FROM nation GROUP BY n_regionkey)
         ORDER BY n_regionkey, nm""",

    "q_semi_join" ->
      """SELECT c_custkey FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders)
         ORDER BY c_custkey""",

    "q_anti_join" ->
      """SELECT c_custkey FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
         ORDER BY c_custkey""",

    "q_union_dedup" ->
      """SELECT CAST(c_nationkey AS INT) AS nk, substr(c_name, 1, 1)
             AS initial FROM customer
         UNION
         SELECT CAST(s_nationkey AS INT) AS nk, substr(s_name, 1, 1)
             AS initial FROM supplier
         ORDER BY nk, initial""",

    "q_fullouter_diff" ->
      """SELECT coalesce(c.nk, s.nk) AS nk, c.cv, s.sv FROM
           (SELECT CAST(c_nationkey AS INT) AS nk, count(*) AS cv
            FROM customer GROUP BY 1) c
         FULL OUTER JOIN
           (SELECT CAST(s_nationkey AS INT) AS nk, count(*) AS sv
            FROM supplier GROUP BY 1) s
         ON c.nk = s.nk
         WHERE c.cv IS DISTINCT FROM s.sv
         ORDER BY nk""",

    "q_value_mapping" ->
      """SELECT c_custkey,
           CASE c_mktsegment WHEN 'BUILDING' THEN 'B'
             WHEN 'AUTOMOBILE' THEN 'A' WHEN 'MACHINERY' THEN 'M'
             ELSE 'OTHER' END AS seg_code
         FROM customer ORDER BY c_custkey""",

    "q_clean_digits" ->
      """SELECT DISTINCT regexp_replace(o_orderpriority, '[^0-9]', '', 'g')
           AS digits FROM orders ORDER BY digits""",

    "q_format_mask" ->
      """SELECT mask, count(*) AS cnt FROM
           (SELECT regexp_replace(regexp_replace(c_name, '[0-9]', '#', 'g'),
                   '[A-Za-z]', 'X', 'g') AS mask FROM customer)
         GROUP BY mask ORDER BY mask""",

    "q_clean_dates" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS ym, count(*) AS cnt
         FROM orders GROUP BY ym ORDER BY ym""",

    "q_century_parse" ->
      """SELECT substr(yyyymmdd, 1, 4) AS yyyy, count(*) AS cnt FROM
           (SELECT CASE WHEN substr(yymmdd, 1, 1) IN ('0','1','2')
                   THEN '20' || yymmdd ELSE '19' || yymmdd END AS yyyymmdd
            FROM (SELECT strftime(o_orderdate, '%y%m%d') AS yymmdd
                  FROM orders))
         GROUP BY yyyy ORDER BY yyyy""",

    "q_nulls_last_order" ->
      """SELECT nk, bal, c_custkey FROM
           (SELECT nk, bal, c_custkey, row_number() OVER
              (PARTITION BY nk ORDER BY bal DESC NULLS LAST, c_custkey)
              AS rn
            FROM (SELECT CAST(c_nationkey AS INT) AS nk,
                         nullif(c_acctbal, 0.0) AS bal, c_custkey
                  FROM customer))
         WHERE rn = 1 ORDER BY nk""",

    "q_json_extract" ->
      """SELECT event_type, count(*) AS cnt,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q_bpeish_tokens" ->
      """SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
             AS n_bpeish
         FROM documents ORDER BY doc_id""",

    "q_levenshtein" ->
      """SELECT p_partkey, levenshtein(p_brand, substr(p_type, 1, 8)) AS lev
         FROM part ORDER BY p_partkey LIMIT 500""",

    "q_jaro_winkler" ->
      """SELECT p_partkey, round(jaro_winkler_similarity(p_name, p_brand), 6)
           AS jw
         FROM part ORDER BY p_partkey LIMIT 500""",

    "q_sessionize" ->
      """SELECT user_id, CAST(sum(new_s) AS BIGINT) AS sessions,
                count(*) AS events FROM
           (SELECT user_id,
              CASE WHEN prev_ts IS NULL
                     OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1
                   ELSE 0 END AS new_s
            FROM (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS prev_ts FROM events))
         GROUP BY user_id ORDER BY user_id""",

    // exact replica of Dedup.simHash over the md5-60-bit token hash; the
    // all-pairs d<=3 set equals the banded-LSH result (pigeonhole)
    "q_simhash_neardups" ->
      """WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000 AS doc_id,
                  regexp_replace(text, '^\S+', 'PLANTED') AS text
           FROM documents WHERE doc_id < 50
         ), toks AS (
           SELECT doc_id,
                  unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
           FROM all_docs
         ), hs AS (
           SELECT doc_id,
                  ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h
           FROM toks
         ), votes AS (
           SELECT doc_id, i,
                  sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
           FROM hs, generate_series(0, 63) AS g(i)
           GROUP BY doc_id, i
         ), sig AS (
           SELECT doc_id, bit_or(CASE WHEN s > 0 THEN (1::BIGINT << i)
                                      ELSE 0::BIGINT END) AS simhash
           FROM votes GROUP BY doc_id
         )
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER)
                  AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         ORDER BY id_a, id_b""",

    // ranking on the ROUNDED tfidf both sides — ulp noise in ln() between
    // engines cannot reorder ties
    "q_tfidf" ->
      """WITH toks AS (
           SELECT doc_id, unnest(CASE WHEN trim(text) = '' THEN []
             ELSE regexp_split_to_array(trim(lower(text)), '\s+') END) AS term
           FROM documents),
         n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
         dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
                   FROM toks GROUP BY term),
         sampled AS (SELECT * FROM toks WHERE doc_id % 50 = 0),
         lens AS (SELECT doc_id, count(*)::DOUBLE AS n_tok
                  FROM sampled GROUP BY doc_id),
         tf AS (SELECT doc_id, term, count(*)::DOUBLE AS cnt
                FROM sampled GROUP BY doc_id, term),
         scored AS (
           SELECT t.doc_id, t.term,
                  round((t.cnt / l.n_tok) * ln(n.n_docs / d.df), 6) AS tfidf
           FROM tf t JOIN dfreq d USING (term) JOIN lens l USING (doc_id)
           CROSS JOIN n),
         ranked AS (
           SELECT doc_id, term, tfidf,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, term) AS rank
           FROM scored)
       SELECT doc_id, term, tfidf, CAST(rank AS INTEGER) AS rank
       FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""",

    "q_token_count" ->
      """SELECT doc_id,
           CASE WHEN trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\s+')) END
             AS n_tokens
         FROM documents ORDER BY doc_id""",

    "q_quality_score" ->
      """SELECT doc_id,
           round(CAST(len(list_distinct(regexp_split_to_array(trim(text),
                 '\s+'))) AS DOUBLE) /
             len(regexp_split_to_array(trim(text), '\s+')), 4) AS ttr,
           length(text) AS len
         FROM documents ORDER BY doc_id""",

    "q_lang_stopwords" ->
      """SELECT doc_id, lang,
           (CASE WHEN regexp_matches(text, '(^| )the( |$)') THEN 1 ELSE 0 END
          + CASE WHEN regexp_matches(text, '(^| )a( |$)') THEN 1 ELSE 0 END
          + CASE WHEN regexp_matches(text, '(^| )and( |$)') THEN 1 ELSE 0 END)
             AS en_hits
         FROM documents ORDER BY doc_id""",

    "q_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS n
         FROM documents GROUP BY 1 ORDER BY keeper""",

    "q_embedding_norm" ->
      """SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 3) AS l2
         FROM embeddings ORDER BY vec_id""",

    "q_minhash_neardups" -> plantedPairsOracle,

    // identical expected output to q_minhash_neardups BY DESIGN: both
    // queries must surface the planted pairs with their exact Jaccard —
    // one via standard k=64 signatures over the full corpus, one via OPH
    // over the family — so they share one oracle definition
    "q_minhash_oph" -> plantedPairsOracle,

    // and the incremental path must surface the SAME pairs again —
    // equivalence with the full run is its contract, so a third query
    // shares the definition: any divergence between the incremental
    // candidate/verify plumbing and the full pipeline turns this row red
    "q_neardup_incremental" -> plantedPairsOracle,

    "q_neardup_clusters" ->
      """WITH RECURSIVE
         base AS (SELECT doc_id, text FROM documents
                  WHERE doc_id < 50 AND
                    len(regexp_split_to_array(trim(text), '\s+')) >= 50),
         fam AS (SELECT doc_id, text FROM base
                 UNION ALL
                 SELECT doc_id + 100000, text || ' PLANTEDMARKER' FROM base
                 UNION ALL
                 SELECT doc_id + 200000, text || ' PLANTEDMARKER ALSO'
                 FROM base),
         sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
                  THEN [array_to_string(toks[i:i+2], ' ')
                        FOR i IN generate_series(1, len(toks) - 2)]
                  ELSE [trim(text)] END) AS s
                FROM (SELECT doc_id, text,
                        regexp_split_to_array(trim(text), '\s+') AS toks
                      FROM fam)),
         e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
               FROM sh a JOIN sh b ON a.doc_id < b.doc_id
               WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                 (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                 >= 0.9),
         ee AS (SELECT id_a AS u, id_b AS v FROM e
                UNION ALL SELECT id_b, id_a FROM e),
         reach AS (SELECT doc_id AS id, doc_id AS r FROM fam
                   UNION
                   SELECT ee.v AS id, reach.r AS r
                   FROM reach JOIN ee ON ee.u = reach.id)
         SELECT id AS doc_id, min(r) AS cluster_id
         FROM reach GROUP BY id ORDER BY doc_id""",

    "q_lang_guess" ->
      """SELECT doc_id, lang,
           CASE WHEN 2 * length(regexp_replace(text,
                  '[^\x{4e00}-\x{9fff}]', '', 'g')) > length(text) THEN 'zh'
                WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
                WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
                WHEN h_es >= h_fr THEN 'es'
                ELSE 'fr' END AS lang_guess
         FROM (SELECT doc_id, lang, text,
             len(list_filter(toks, x -> list_contains(
               ['the','a','and','of','to','in','is','that','it','for'], x)))
               AS h_en,
             len(list_filter(toks, x -> list_contains(
               ['der','die','das','und','ist','nicht','ein','zu','mit','den'],
               x))) AS h_de,
             len(list_filter(toks, x -> list_contains(
               ['le','la','les','et','est','un','une','des','que','pour'],
               x))) AS h_fr,
             len(list_filter(toks, x -> list_contains(
               ['el','la','los','y','es','un','una','que','de','por'], x)))
               AS h_es
           FROM (SELECT doc_id, lang, text,
                   list_transform(regexp_split_to_array(trim(text), '\s+'),
                     x -> lower(x)) AS toks
                 FROM documents))
         ORDER BY doc_id""",

    "q_quality_features" ->
      """SELECT doc_id, n_tokens,
           round((CASE WHEN n_tokens BETWEEN 10 AND 5000
                  THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END)
             + (CASE WHEN ttr BETWEEN 0.2 AND 0.95
                THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END)
             + (CASE WHEN punct_ratio < 0.2
                THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END)
             + (CASE WHEN mean_word_len BETWEEN 2.0 AND 12.0
                THEN 0.15::DOUBLE ELSE 0.0::DOUBLE END)
             + (CASE WHEN stopword_ratio > 0.02
                THEN 0.1::DOUBLE ELSE 0.0::DOUBLE END), 4)
             AS quality_score
         FROM (SELECT doc_id, n_tokens,
             CASE WHEN n_tokens > 0
               THEN CAST(len(list_distinct(toks)) AS DOUBLE) / n_tokens
               ELSE 0.0 END AS ttr,
             CASE WHEN n_chars > 0
               THEN CAST(n_chars - length(regexp_replace(text,
                      '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / n_chars
               ELSE 0.0 END AS punct_ratio,
             CASE WHEN n_tokens > 0
               THEN CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens
               ELSE 0.0 END AS mean_word_len,
             CASE WHEN n_tokens > 0
               THEN CAST(len(list_filter(list_transform(toks,
                      x -> lower(x)), x -> list_contains(
                      ['the','a','and','of','to','in','is','that','it','for'],
                      x))) AS DOUBLE) / n_tokens
               ELSE 0.0 END AS stopword_ratio
           FROM (SELECT doc_id, text, length(text) AS n_chars,
                   CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\s+')) END
                     AS n_tokens,
                   CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                     ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
                 FROM documents))
         ORDER BY doc_id""",

    "q_repetition" ->
      """WITH base AS (
           SELECT doc_id, len(toks) AS n_tok,
                  len(list_distinct(toks)) AS n_uniq,
                  CASE WHEN len(toks) >= 2
                    THEN [array_to_string(toks[i:i+1], ' ')
                          FOR i IN generate_series(1, len(toks) - 1)]
                    ELSE []::VARCHAR[] END AS grams
           FROM (SELECT doc_id,
                   regexp_split_to_array(trim(text), '\s+') AS toks
                 FROM documents)
         ), gc AS (
           SELECT doc_id, gram, count(*) AS cnt
           FROM (SELECT doc_id, unnest(grams) AS gram FROM base)
           GROUP BY doc_id, gram
         ), agg AS (
           SELECT doc_id, sum(cnt * len(gram)) AS total_mass,
                  sum(CASE WHEN cnt > 1 THEN cnt * len(gram)
                      ELSE 0 END) AS dup_mass
           FROM gc GROUP BY doc_id
         ), top AS (
           SELECT doc_id, gram AS top_gram, cnt AS top_cnt FROM (
             SELECT doc_id, gram, cnt, row_number() OVER (
               PARTITION BY doc_id ORDER BY cnt DESC, gram DESC) AS rn
             FROM gc) WHERE rn = 1
         )
         SELECT b.doc_id,
           round(CASE WHEN n_tok > 0
             THEN 1.0 - CAST(n_uniq AS DOUBLE) / n_tok
             ELSE 0.0 END, 6) AS dup_word_frac,
           round(CASE WHEN total_mass > 0
             THEN CAST(dup_mass AS DOUBLE) / total_mass
             ELSE 0.0 END, 6) AS dup_ngram_char_frac,
           coalesce(top_gram, '') AS top_ngram,
           round(CASE WHEN total_mass > 0
             THEN CAST(top_cnt * len(top_gram) AS DOUBLE) / total_mass
             ELSE 0.0 END, 6) AS top_ngram_frac
         FROM base b
         LEFT JOIN agg USING (doc_id) LEFT JOIN top USING (doc_id)
         ORDER BY doc_id""",

    "q_decontaminate" ->
      """WITH bench AS (
           SELECT CAST(doc_id // 50 AS BIGINT) AS bench_id,
                  array_to_string(
                    (regexp_split_to_array(trim(text), '\s+'))[3:10],
                    ' ') AS text
           FROM documents WHERE doc_id % 50 = 3
         ), bg AS (
           SELECT DISTINCT bench_id, g AS gram FROM (
             SELECT bench_id, unnest(CASE WHEN len(toks) >= 3
               THEN [array_to_string(toks[i:i+2], ' ')
                     FOR i IN generate_series(1, len(toks) - 2)]
               ELSE [trim(text)] END) AS g
             FROM (SELECT bench_id, text,
                     regexp_split_to_array(trim(text), '\s+') AS toks
                   FROM bench))
         ), dg AS (
           SELECT DISTINCT doc_id, g AS gram FROM (
             SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
               THEN [array_to_string(toks[i:i+2], ' ')
                     FOR i IN generate_series(1, len(toks) - 2)]
               ELSE [trim(text)] END) AS g
             FROM (SELECT doc_id, text,
                     regexp_split_to_array(trim(text), '\s+') AS toks
                   FROM documents))
         )
         SELECT d.doc_id, b.bench_id,
                CAST(count(*) AS BIGINT) AS shared_grams
         FROM dg d JOIN bg b USING (gram)
         GROUP BY d.doc_id, b.bench_id
         ORDER BY d.doc_id, b.bench_id""",

    "q_redact_pii" ->
      """WITH planted AS (
           SELECT doc_id,
             substring(text, 1, 40) || ' reach u' ||
             CAST(doc_id AS VARCHAR) || '@ex-mail.com or 415-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             ' ssn 123-45-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             ' card 4111 1111 1111 1111 ip 10.0.' ||
             CAST(doc_id % 256 AS VARCHAR) || '.7' AS text
           FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '[EMAIL]', 'g'),
             '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '[SSN]', 'g'),
             '\b[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}\b',
             '[CARD]', 'g'),
             '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '[PHONE]', 'g'),
             '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g')
             AS redacted,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text,
             '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT) AS n_ssn,
           CAST(len(regexp_extract_all(text,
             '\b[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}\b'))
             AS BIGINT) AS n_card,
           CAST(len(regexp_extract_all(text,
             '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b'))
             AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(text,
             '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ip
         FROM planted
         ORDER BY doc_id""",

    "q_span_dedup" ->
      """WITH sarrs AS (
           SELECT doc_id,
             [array_to_string(toks[(p-1)*8+1 : p*8], ' ')
              FOR p IN generate_series(1,
                CAST(ceil(len(toks)::DOUBLE / 8) AS BIGINT))] AS sarr
           FROM (SELECT doc_id,
                   regexp_split_to_array(trim(text), '\s+') AS toks
                 FROM documents)
         ), spans AS (
           SELECT doc_id, unnest(generate_series(1, len(sarr))) - 1 AS pos,
                  unnest(sarr) AS span
           FROM sarrs
         ), hashed AS (
           SELECT doc_id, pos,
                  ('0x' || substring(md5(span), 1, 15))::BIGINT AS h
           FROM spans
         ), keepers AS (
           SELECT doc_id, pos FROM (
             SELECT doc_id, pos, row_number() OVER (
               PARTITION BY h ORDER BY doc_id, pos) AS rn
             FROM hashed) WHERE rn = 1
         ), kept AS (
           SELECT s.doc_id, s.pos, s.span
           FROM spans s JOIN keepers k USING (doc_id, pos)
         ), rebuilt AS (
           SELECT doc_id, string_agg(span, ' ' ORDER BY pos) AS clean_text,
                  count(*) AS n_kept
           FROM kept GROUP BY doc_id
         ), nsp AS (
           SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id
         )
         SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text,
                CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
                CAST(n.n_spans - coalesce(r.n_kept, 0) AS BIGINT)
                  AS n_removed
         FROM documents d JOIN nsp n USING (doc_id)
         LEFT JOIN rebuilt r USING (doc_id)
         ORDER BY doc_id""",

    "q_mix_sample" ->
      """SELECT doc_id, source,
           ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':7'),
             1, 15))::BIGINT % 1000000 AS mix_bucket
         FROM documents
         WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':7'),
             1, 15))::BIGINT % 1000000 <
           CASE source WHEN 'src0' THEN 900000 WHEN 'src3' THEN 250000
             WHEN 'src7' THEN 0 ELSE 600000 END
         ORDER BY doc_id""",

    "q_mix_repeat" ->
      """WITH n AS (
           SELECT doc_id, source,
             CASE source WHEN 'src1' THEN 2 WHEN 'src4' THEN 1
               WHEN 'src6' THEN 0 ELSE 1 END
             + CASE WHEN ('0x' || substring(md5(
                 CAST(doc_id AS VARCHAR) || ':7'), 1, 15))::BIGINT
                 % 1000000 <
               CASE source WHEN 'src1' THEN 0 WHEN 'src4' THEN 500000
                 WHEN 'src6' THEN 250000 ELSE 0 END
               THEN 1 ELSE 0 END AS n
           FROM documents)
         SELECT doc_id, source,
                unnest(generate_series(0, n - 1)) AS copy_idx
         FROM n WHERE n > 0
         ORDER BY doc_id, copy_idx""",

    "q_epoch_order" ->
      """SELECT doc_id,
           CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT)
             AS epoch_pos
         FROM (SELECT doc_id,
                 ('0x' || substring(md5(
                   CAST(doc_id AS VARCHAR) || ':7:2'), 1, 15))::BIGINT AS h
               FROM documents)
         ORDER BY doc_id""",

    "q_fingerprints" ->
      """SELECT doc_id, md5(text) AS content_hash,
           list_min(CASE WHEN len(toks) >= 5
             THEN [md5(array_to_string(toks[i:i+4], ' '))
                   FOR i IN generate_series(1, len(toks) - 4)]
             ELSE [md5(text)] END) AS min_gram_fp
         FROM (SELECT doc_id, text,
                 regexp_split_to_array(trim(text), '\s+') AS toks
               FROM documents WHERE doc_id % 10 = 0)
         ORDER BY doc_id""",

    "q_cosine_topk" ->
      """WITH q AS (SELECT embedding AS q_emb FROM embeddings
                    WHERE vec_id = 0)
         SELECT e.vec_id,
           round(list_sum(list_transform(
               list_zip(e.embedding, q.q_emb),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
             (sqrt(list_sum(list_transform(e.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
              sqrt(list_sum(list_transform(q.q_emb,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 3) AS cos
         FROM embeddings e CROSS JOIN q
         WHERE e.vec_id <> 0
         ORDER BY cos DESC, vec_id LIMIT 20"""
  )
}
