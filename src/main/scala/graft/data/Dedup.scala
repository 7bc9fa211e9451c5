package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.linkage.expr.{functions => gf}

/** Large-scale document deduplication (training-data pipeline ops).
  * Every signature is a SHUFFLE-FREE per-row projection.
  *
  *  - exact:   hash-groupBy keep-min + join-back (one agg + one join;
  *             AQE skew-join absorbs a mega-duplicate group — the round-1
  *             collect_list(ids) materialized the whole group in a single
  *             aggregation buffer, an OOM at web scale)
  *  - MinHash: one codegen'd kernel per document ([[graft.linkage.expr.MinHash]])
  *             builds its sorted shingle set, signature and LSH band
  *             buckets from the text alone → bucket self-join → exact
  *             Jaccard by merging the two sorted shingle arrays of each
  *             candidate pair (classic LSH; false positives killed by the
  *             verify, false negatives bounded by (1-s^r)^b)
  *  - SimHash: 64-bit sign-sum signature (per-row); near-dups via
  *             banded bucket join with bands DERIVED from maxDistance
  *             (bands > maxDistance ⇒ pigeonhole-exact recall) +
  *             bit_count(xor) Hamming verify
  */
object Dedup {

  // ---------- exact ----------

  /** Exact dedup: keep the smallest id per identical text.
    * Returns (id, keeper, group_size).
    *
    * Shape: groupBy(text_hash) → (keeper, group_size), then join the doc
    * ids back on text_hash. The join-back replaces round 1's
    * collect_list+explode: a degenerate duplicate group (billions of
    * identical empty docs) becomes an AQE-splittable skewed join
    * partition instead of one fat aggregation buffer. */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame = {
    val h = xxhash64(col(textCol))
    val groups = docs.groupBy(h.as("text_hash"))
      .agg(min(col(idCol)).as("keeper"),
        count(lit(1)).as("group_size"))
    docs.select(col(idCol), h.as("text_hash"))
      .join(groups, Seq("text_hash"))
      .select(col(idCol), col("keeper"), col("group_size"))
  }

  // ---------- shingling ----------

  /** (id, shingle) rows, one per distinct shingle of each doc — `shingle`
    * is the 64-bit xxhash64 of a word n-gram (texts shorter than n words
    * shingle to the whole trimmed text). The set is built per document
    * by the MinHash kernel and exploded, so no distinct shuffle runs;
    * rows are distinct per (id, shingle) as long as ids are unique. Set
    * sizes and intersections are exact up to xxhash64 collisions (2⁻⁶⁴
    * per pair). */
  def explodedShingles(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", n: Int = 3): DataFrame =
    docs.select(col(idCol),
      explode(gf.minhash_shingles(col(textCol), n)).as("shingle"))

  // ---------- MinHash + LSH ----------

  case class MinHashConfig(
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      jaccardThreshold: Double = 0.7,
      seed: Long = 42L,
      /** one-permutation hashing: 1 hash/shingle instead of numHashes —
        * the at-scale signature path (see minHashSignaturesOPH) */
      oph: Boolean = false,
      /** Oversized-bucket guard on the band join (the linkage engine's
        * Candidates 2% discipline, inherited): a (band, bucket) holding
        * more than min(maxBucketCap, max(minBucketCap, capRatio·|docs|))
        * rows is DROPPED from candidate generation — a degenerate hot
        * bucket (millions of near-empty docs collapsing to one signature
        * slice) otherwise makes one join partition quadratic. The trade
        * is RECALL: pairs living only in a capped bucket are never
        * verified, so every drop is logged loudly (never silent).
        * capRatio >= 1.0 disables the cap. The streaming gate
        * (NearDupStream) never caps: its join is batch × bucket.
        *
        * The FLOOR keeps the ratio term from firing on small corpora,
        * where a bucket holding a few percent of the docs is a genuine
        * near-dup family, not degeneracy (measured: at 5k docs the old
        * floor of 50 capped 9 ORGANIC buckets of the synthetic corpus
        * and silently changed the answer — ratio·n can't reach 5000
        * until the corpus passes 250k docs). The CEILING bounds the
        * join WORK per bucket absolutely — quadratic cost depends on
        * the bucket's row count, not its corpus fraction, and at 10⁹
        * docs a 2% cap would admit 2·10⁷-row buckets (2·10¹⁴ pairs in
        * one task); 20k rows caps a bucket at 2·10⁸ cheap comparisons,
        * a bounded straggler. */
      capRatio: Double = 0.02,
      minBucketCap: Long = 5000,
      maxBucketCap: Long = 20000)

  /** The oversized-bucket guard over a (band, bucket, …) relation of
    * `docs` documents: a (band, bucket) holding more than
    * min(maxBucketCap, max(minBucketCap, capRatio·docs)) rows is dropped
    * from the candidate join, and the drop is logged (a capped bucket is
    * lost RECALL — never drop silently). `docs` is the row count observed
    * on the build of the relation the buckets come from (the kernel
    * relation, simhash's signature relation). A bucket holds at most one
    * row per document, so with no more docs than the cap nothing can be
    * over it and no job runs; otherwise one aggregate over the bucket
    * sizes finds the over-cap buckets, and `buckets` comes back untouched
    * when there are none. Off when capRatio >= 1.0. */
  private[graft] def capBuckets(buckets: DataFrame, docs: Long,
                                capRatio: Double, minBucketCap: Long,
                                maxBucketCap: Long, tag: String): DataFrame = {
    val cap = math.min(maxBucketCap,
      math.max(minBucketCap, (capRatio * docs).toLong))
    if (capRatio >= 1.0 || docs <= cap) return buckets
    val sizes = buckets.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val over = sizes.filter(col("n") > cap)
      .agg(count(lit(1)).as("b"), coalesce(sum(col("n")), lit(0L)).as("r"))
      .head()
    if (over.getLong(0) == 0) return buckets
    println(s"[graft] $tag: dropped ${over.getLong(0)} hot bucket(s) " +
      s"holding ${over.getLong(1)} rows over cap=$cap — bounded join " +
      "partitions traded for recall in those buckets " +
      "(MinHashConfig.capRatio/minBucketCap/maxBucketCap)")
    buckets.join(sizes.filter(col("n") <= cap).select("band", "bucket"),
      Seq("band", "bucket"), "left_semi")
  }

  /** The LSH band buckets of a signature column. */
  private def bandBuckets(sig: Column, cfg: MinHashConfig): Column = {
    val r = cfg.numHashes / cfg.bands
    require(r * cfg.bands == cfg.numHashes, "bands must divide numHashes")
    gf.lsh_bands(sig, cfg.bands, r)
  }

  /** (id, shingles, buckets): each doc's sorted distinct shingle set and
    * its `cfg.bands` LSH buckets, from the text alone — the one per-row
    * kernel every MinHash caller runs. The shingle set is computed once
    * per doc: the buckets read it from the projection below (two uses of
    * a non-trivial expression keep CollapseProject from inlining it). */
  private[graft] def minHashDocs(docs: DataFrame, cfg: MinHashConfig,
                                 idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        gf.minhash_shingles(col(textCol), cfg.shingleSize).as("shingles"))
      .select(col(idCol), col("shingles"),
        bandBuckets(gf.minhash_signature(col("shingles"), cfg.numHashes,
          cfg.seed, cfg.oph), cfg).as("buckets"))

  /** (id, band, bucket) rows of a per-doc bucket-array relation. */
  private[graft] def bucketRows(mh: DataFrame, idCol: String): DataFrame =
    mh.select(col(idCol), posexplode(col("buckets")).as(Seq("band", "bucket")))

  /** One-permutation MinHash signatures (Li/Owen/Zhang OPH with rotation
    * densification) from an exploded (id, shingle) relation: ONE
    * xxhash64(seed, shingle) per shingle, range-binned into k bins by
    * pmod(h, k); the per-bin min is the slot, and an empty bin borrows
    * the next filled bin's value cyclically, offset by the distance t so
    * different empty-run lengths can't collide spuriously. Pair collision
    * probability is still E[agree] = Jaccard, with higher variance (and
    * correlated slots) for docs with ≪ k shingles; the exact verify keeps
    * precision exact. An adapter over the kernel for callers that hold
    * exploded shingles; the near-dup paths sign each doc from its text
    * ([[minHashDocs]]) and never build this relation. */
  def minHashSignaturesOPH(exploded: DataFrame, cfg: MinHashConfig,
                           idCol: String = "doc_id"): DataFrame =
    exploded.groupBy(col(idCol))
      .agg(collect_list(col("shingle")).as("_shingles"))
      .select(col(idCol), gf.minhash_signature(col("_shingles"),
        cfg.numHashes, cfg.seed, oph = true).as("sig"))

  /** LSH band buckets: (id, band, bucket), r = numHashes/bands slots per
    * band hashed together — a posexplode of the kernel's per-row bucket
    * array. */
  def lshBuckets(signatures: DataFrame, cfg: MinHashConfig,
                 idCol: String = "doc_id"): DataFrame =
    bucketRows(signatures.select(col(idCol),
      bandBuckets(col("sig"), cfg).as("buckets")), idCol)

  /** Candidate pairs from shared (band, bucket), a<b, deduped. Both join
    * sides are the same projection up to alias names, so the planner
    * shuffles the bucket relation once and reuses that exchange for the
    * other side. With `above` (the previous corpus's largest id, see
    * [[minHashNearDups]]) the right side keeps only the ids above it. */
  def lshCandidates(buckets: DataFrame, idCol: String = "doc_id",
                    above: Option[Column] = None): DataFrame = {
    def side(s: String) = buckets.select(col("band").as(s"band_$s"),
      col("bucket").as(s"bucket_$s"), col(idCol).as(s"id_$s"))
    val b = side("b")
    side("a").join(above.fold(b)(m => b.filter(col("id_b") > m)),
        col("band_a") === col("band_b") &&
        col("bucket_a") === col("bucket_b") && col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard (id_a, id_b, jaccard) of the candidate pairs whose
    * Jaccard is at least `threshold` (default: every pair): one join of
    * the sorted shingle arrays (`shingles`: (id, shingles)) per pair side,
    * then one merge per pair. The threshold is the cardinality of the
    * explode over the kernel, not a Filter: a filter on the projected
    * Jaccard is pushed into the second join's condition with the kernel
    * copied in, and every passing pair would be merged twice. `pairs`
    * must be distinct and every member present in `shingles`. */
  private[graft] def verifyPairs(pairs: DataFrame, shingles: DataFrame,
                                 idCol: String,
                                 threshold: Double = 0.0): DataFrame = {
    val a = shingles.select(col(idCol).as("id_a"), col("shingles").as("_sa"))
    val b = shingles.select(col(idCol).as("id_b"), col("shingles").as("_sb"))
    pairs.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"), explode(gf.sorted_jaccard_above(
        col("_sa"), col("_sb"), threshold)).as("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline: returns verified near-dup pairs
    * (id_a, id_b, jaccard ≥ threshold).
    *
    * One path: the per-doc kernel projection (id, shingles, buckets) →
    * posexplode of the buckets → hot-bucket cap → bucket self-join → one
    * shingle-array join per pair side → sorted merge → threshold. The
    * per-doc relation is the only fan-out point (the buckets feed the
    * cap's stats pass and both candidate-join sides, the shingle arrays
    * both verify sides), so it is built first as an eager local
    * checkpoint ([[kernelCut]]): every later plan starts from one RDD
    * scan instead of re-embedding the kernel lineage per reference, and
    * the row count observed on that build sizes the cap
    * ([[capBuckets]]). Its blocks are released once the result is
    * materialized. The returned DataFrame is PERSISTED (a checkpointed
    * result would dodge Dataset.unpersist and the bench's clearCache);
    * unpersist it when done. A lost result block recomputes through the
    * full deterministic lineage — slow path, never wrong.
    *
    * `previous` is the daily-append form (the linkage increment's
    * analog): `docs` are the NEW docs and `previous` the corpus they
    * join, under the append-only id rule — every new id is above every
    * previous id ([[previousMaxId]] refuses otherwise). The kernel
    * relation covers previous ∪ new and the cap is sized over it, as in
    * a full run over both; the one difference is that the candidate
    * join's right side keeps only new ids. Under the rule a pair touches
    * a new doc exactly when its larger id is new, so the result is the
    * full run's pairs that touch a new doc, each once: pairs among
    * previous docs are final from the earlier run (the kernel and the
    * verify are deterministic). One divergence from a full recompute: a
    * (band, bucket) that crosses the cap only after an increment keeps
    * the pairs found while it was under it — matches are never
    * retracted. */
  def minHashNearDups(docs: DataFrame, cfg: MinHashConfig = MinHashConfig(),
                      idCol: String = "doc_id",
                      textCol: String = "text",
                      previous: Option[DataFrame] = None): DataFrame = {
    val above = previous.flatMap(previousMaxId(_, docs, idCol))
    val stages = new graft.linkage.Stages()
    stages.releasing {
      val out = kernelCut(docs, previous, above, cfg, idCol, textCol, stages)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    }
  }

  /** The near-dup body every full run and daily append shares: the kernel
    * relation over previous ∪ `docs` is built as an eager checkpoint on
    * `stages`, and the verified pairs over it come back LAZY
    * ([[nearDupPairs]], the cap sized by the observed kernel row count).
    * `above` is [[previousMaxId]]'s bound. Docs without text have no
    * buckets and never pair, so they are left out of the kernel relation
    * and of the count that sizes the cap. */
  private[data] def kernelCut(docs: DataFrame, previous: Option[DataFrame],
                              above: Option[Column], cfg: MinHashConfig,
                              idCol: String, textCol: String,
                              stages: graft.linkage.Stages): DataFrame = {
    def narrow(df: DataFrame) = df.select(col(idCol), col(textCol))
    val all = previous.fold(docs)(p => narrow(p).unionByName(narrow(docs)))
    val (mh, n) = stages.checkpoint(
      minHashDocs(all.filter(col(textCol).isNotNull), cfg, idCol, textCol))
    nearDupPairs(mh, n, cfg, idCol, above)
  }

  /** The largest id of `previous`, once the append-only id rule is
    * checked: every id of `docs` must be above it. The bounds are
    * compared in Spark, in the ordering its aggregates and joins use
    * (strings by UTF-8 bytes, numbers by value), so the check and the
    * candidate filter it feeds agree. One action with one aggregate per
    * side; None when `previous` is empty. */
  private[data] def previousMaxId(previous: DataFrame, docs: DataFrame,
                                  idCol: String): Option[Column] = {
    val r = previous.agg(max(col(idCol)).as("p"))
      .crossJoin(docs.agg(min(col(idCol)).as("n")))
      .select(col("p"), col("n"), col("p") < col("n")).head()
    require(r.isNullAt(2) || r.getBoolean(2),
      s"append-only id discipline violated: max previous id ${r.get(0)} " +
        s">= min new id ${r.get(1)}")
    if (r.isNullAt(0)) None else Some(lit(r.get(0)))
  }

  /** Verified pairs over a per-doc (id, shingles, buckets) relation of
    * `docs` rows, its buckets under the hot-bucket cap sized from `docs`;
    * `above` restricts the larger id of each pair (see [[lshCandidates]]). */
  private[graft] def nearDupPairs(mh: DataFrame, docs: Long,
                                  cfg: MinHashConfig, idCol: String,
                                  above: Option[Column] = None): DataFrame = {
    val kept = capBuckets(bucketRows(mh, idCol), docs, cfg.capRatio,
      cfg.minBucketCap, cfg.maxBucketCap, "minhash-lsh")
    verifyPairs(lshCandidates(kept, idCol, above), mh, idCol,
      cfg.jaccardThreshold)
  }

  /** Near-duplicate GROUPS: the linkage engine's large-star/small-star
    * connected components run over the verified near-dup pairs, plus
    * singleton fill — one (doc_id, cluster_id) row per INPUT doc, with
    * cluster_id = the component's minimum doc_id. Transitive chains
    * a~b~c collapse into one group even when (a, c) itself was never a
    * candidate pair — the set-cover step pair output alone cannot give.
    * Same resumability/lineage discipline as the linkage path
    * (Cluster.Options.checkpointDir).
    *
    * The result is localCheckpoint()'d (so the interior pair/label caches
    * can be released here) — `unpersist()` will NOT free its blocks;
    * call `DatasetBridge.releaseCheckpoint(result)` once every consumer
    * has materialized. */
  def nearDupClusters(docs: DataFrame, cfg: MinHashConfig = MinHashConfig(),
                      idCol: String = "doc_id", textCol: String = "text",
                      ccOptions: graft.linkage.Cluster.Options =
                        graft.linkage.Cluster.Options()): DataFrame = {
    val pairs = minHashNearDups(docs, cfg, idCol, textCol)
    val labels = graft.linkage.Cluster.connectedComponents(
      docs.sparkSession, pairs.select(col("id_a"), col("id_b")), ccOptions)
    val out = graft.linkage.Cluster.labelRecords(
      docs.select(col(idCol)), labels, idCol)
    val materialized = out
      .select(col(idCol), col("cluster_id"))
      .localCheckpoint() // inert result: release pairs + labels below
    pairs.unpersist(blocking = false)
    labels.unpersist(blocking = false)
    materialized
  }

  // ---------- SimHash ----------

  /** 64-bit SimHash over word tokens: bit i = sign of Σ_tokens ±1 where
    * the sign is bit i of xxhash64(token). Returns (id, simhash). */
  def simHash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text",
              hash: Column => Column = xxhash64(_)): DataFrame = {
    // ONE hash-aggregate with 64 bit-count columns (r06): the r03–r05
    // shape exploded each token's hash against the 64 bit indices —
    // 64·|tokens| generated rows through a (id, i)-keyed partial agg,
    // then a second aggregate bit_or'ing the signature. The same math as
    // 64 conditional sums in a single codegen'd HashAggregate: bit i of
    // the signature is set iff Σ_tokens ±1 > 0 ⟺ 2·(count of tokens
    // with bit i set) > |tokens| — no generated rows, ONE shuffle of
    // |docs| rows. The token hash still sits in its OWN projection so
    // an expensive oracle hash (md5) is evaluated once per token.
    val bitSums = (0 until 64).map(i =>
      sum(call_function("shiftrightunsigned", col("h"), lit(i))
        .bitwiseAND(lit(1L))).as(s"_b$i"))
    docs
      .select(col(idCol),
        explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .select(col(idCol), hash(col("tok")).as("h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("_n"), bitSums: _*)
      .select(col(idCol),
        (0 until 64).map(i =>
          when(col(s"_b$i") * 2 > col("_n"), lit(1L << i))
            .otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("simhash"))
  }

  /** SimHash near-dups: ALL pairs at Hamming distance ≤ maxDistance.
    *
    * Bands are DERIVED from maxDistance: splitting the 64 bits into
    * bands > maxDistance nearly-equal slices guarantees (pigeonhole) that
    * any pair within distance shares at least one untouched band — exact
    * recall at every configured distance, where round 1's fixed 4 bands
    * were exact only for maxDistance ≤ 3 and silently under-recalled
    * beyond. The bit_count(xor) verify kills band-collision false
    * positives. Scale note: wider distances mean narrower buckets
    * (64/(d+1) bits) and more candidate collisions — at web scale keep
    * maxDistance ≤ 3 (16-bit buckets) or pre-partition by a coarse key.
    *
    * Hot-bucket guard (the Candidates 2% discipline, inherited): a
    * (band, bucket) holding more than max(minBucketCap, capRatio·|sigs|)
    * rows is DROPPED from the banded join — a degenerate corpus
    * (millions of near-empty docs collapsing to simhash 0) otherwise
    * makes one join partition quadratic. Dropped buckets cost recall in
    * exactly those buckets and are logged loudly; capRatio >= 1.0
    * disables the guard, restoring pigeonhole-exact recall. An
    * identical-document flood is the textbook trigger — run [[exact]]
    * dedup FIRST so only genuine near-dups reach this stage.
    *
    * Ownership (ADVICE r05): with the guard live (capRatio < 1, the
    * default) the returned DataFrame is PERSISTED and caller-owned —
    * `unpersist()` it once consumed, exactly like [[minHashNearDups]]'s
    * result; long-lived sessions that drop the handle without
    * unpersisting accumulate cache entries per call. */
  def simHashNearDups(sigs: DataFrame, maxDistance: Int = 3,
                      idCol: String = "doc_id", bands: Int = 0,
                      capRatio: Double = 0.02,
                      minBucketCap: Long = 5000,
                      maxBucketCap: Long = 20000): DataFrame = {
    val nBands = if (bands > 0) bands else maxDistance + 1
    require(nBands > maxDistance,
      s"pigeonhole exactness needs bands ($nBands) > maxDistance ($maxDistance)")
    require(nBands >= 1 && nBands <= 64, "bands must be in [1, 64]")
    val base = 64 / nBands
    val rem = 64 % nBands
    val widths = (0 until nBands).map(b => if (b < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    def mask(w: Int): Column = if (w >= 64) lit(-1L) else lit((1L << w) - 1)
    val bandBuckets = array((0 until nBands).map { b =>
      shiftrightunsigned(col("simhash"), offsets(b)).bitwiseAND(mask(widths(b)))
    }: _*)
    val capOn = capRatio < 1.0
    def bandedOf(rel: DataFrame): DataFrame = rel
      .select(col(idCol), col("simhash"), posexplode(bandBuckets))
      .toDF(idCol, "simhash", "band", "bucket")
    def pairsOver(banded: DataFrame): DataFrame = {
      val l = banded.select(col("band"), col("bucket"),
        col(idCol).as("id_a"), col("simhash").as("sh_a"))
      val r = banded.select(col("band").as("band_r"),
        col("bucket").as("bucket_r"), col(idCol).as("id_b"),
        col("simhash").as("sh_b"))
      l.join(r, col("band") === col("band_r") &&
          col("bucket") === col("bucket_r") && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= maxDistance)
    }
    if (!capOn) return pairsOver(bandedOf(sigs))
    // Both join sides consume the signatures; cut the NARROW (id, simhash)
    // projection (16 bytes/row) so the expensive signature compute runs
    // once and the cheap band-explode re-derives from it per side.
    // Caching the exploded banded relation instead (an earlier draft)
    // measured 4.3 s vs 2.0 s uncapped at sf0.1 — columnar-caching the
    // wide fan-out and re-reading it dwarfed the compute it saved. The cut
    // is an eager local checkpoint, not a persist (r06): each join side
    // re-embedded the full signature aggregation in its logical plan (the
    // simhash plan dump shrank 70k → ~8k chars). Its row count, observed
    // on the build, is |docs| for the cap (every doc has a simhash).
    val stages = new graft.linkage.Stages()
    stages.releasing {
      val (sigRel, n) = stages.checkpoint(sigs.select(col(idCol),
        col("simhash")))
      val banded = capBuckets(bandedOf(sigRel), n, capRatio, minBucketCap,
        maxBucketCap, "simhash")
      // materialize through the checkpointed signature relation, which is
      // released on return; the returned (persisted) frame is the
      // caller-owned handle (a checkpointed result would dodge
      // Dataset.unpersist)
      val p = pairsOver(banded)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }
  }

  // ---------- span-level (substring) dedup ----------

  /** Array of NON-overlapping `width`-word spans of a text (the last
    * span keeps whatever remains); texts shorter than `width` words are
    * one whole-text span. Pure per-row projection. */
  private[graft] def spanArray(textCol: Column, width: Int): Column = {
    val toks = split(trim(textCol), "\\s+")
    val nspans = ceil(size(toks).cast("double") / width).cast("int")
    transform(sequence(lit(0), nspans - 1),
      p => array_join(slice(toks, p * width + 1, lit(width)), " "))
  }

  /** Duplicate-SPAN removal — the substring-granularity dedup of public
    * LLM pipelines (Lee et al. 2022 "Deduplicating Training Data Makes
    * Language Models Better" remove repeated 50-token substrings;
    * C4/Dolma drop repeated paragraphs/three-sentence spans). Whole-doc
    * dedup ([[exact]], [[minHashNearDups]]) misses boilerplate repeated
    * INSIDE otherwise-distinct documents — license headers, navigation
    * chrome, quoted chain-mail — which this pass removes span-by-span.
    *
    * Semantics: the corpus is cut into non-overlapping `width`-word
    * spans; of all occurrences of an identical span (by `hash`), only
    * the globally FIRST in (id, pos) order survives — including repeats
    * within one document. Each doc is reassembled from its surviving
    * spans in original order. Returns one row per input doc:
    * (id, clean_text, n_kept, n_removed).
    *
    * Scale shape — the span STRINGS never cross an exchange:
    *  1. a narrow (id, pos, h) relation (24 B/row) is projected per-row
    *     (span text hashed immediately above its explode and dropped);
    *  2. keep-first = one groupBy(h) with a map-side partial min —
    *     a degenerate flood of identical spans (billions of empty docs)
    *     partial-aggregates per task instead of skewing a join (the
    *     [[exact]] join-back's AQE case doesn't even arise);
    *  3. surviving positions fold to one array per doc (groupBy id,
    *     narrow), join back to the corpus on its unique id, and each
    *     doc re-derives its spans per-row, keeping those whose index
    *     is in its kept set.
    * Two narrow shuffles plus one corpus⋈narrow join on unique ids —
    * no fat rows, no skewed joins, no windows. `hash` collisions merge
    * distinct spans at 2⁻⁶⁴ per pair (xxhash64 default; pass md5-based
    * for cross-engine replay, q_span_dedup). */
  def dedupSpans(docs: DataFrame, width: Int = 50,
                 idCol: String = "doc_id", textCol: String = "text",
                 hash: Column => Column = xxhash64(_)): DataFrame = {
    require(width >= 1, s"width must be positive, got $width")
    val sarr = spanArray(col(textCol), width)
    val hashed = docs
      .select(col(idCol), posexplode(sarr).as(Seq("pos", "span")))
      .select(col(idCol), col("pos"), hash(col("span")).as("h"))
    val keepers = hashed.groupBy(col("h"))
      .agg(min(struct(col(idCol), col("pos"))).as("k"))
      .select(col("k").getField(idCol).as(idCol),
        col("k").getField("pos").as("pos"))
    val keptPos = keepers.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("kept_pos"))
    docs.join(keptPos, Seq(idCol), "left")
      .select(col(idCol),
        array_join(filter(sarr,
          (s, i) => array_contains(col("kept_pos"), i)), " ")
          .as("clean_text"),
        coalesce(size(col("kept_pos")), lit(0)).cast("long").as("n_kept"),
        (size(sarr) - coalesce(size(col("kept_pos")), lit(0))).cast("long")
          .as("n_removed"))
  }
}
