package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.data.{Ann, Dedup, Multimodal, TextAnalysis}

/** Training-data ops: dedup family, ANN, text analysis, multimodal
  * plumbing — tested on planted-duplicate corpora. */
class DataOpsSpec extends AnyFunSuite with SparkFixture {

  private val words = Array("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
    "november", "oscar", "papa", "quebec", "romeo", "sierra", "tango")

  /** 60 base docs of 40 words; ids 1000+i are near-dups of doc i (two
    * words changed ≈ 85–95% shingle overlap); ids 2000/2001 exact dups. */
  private lazy val corpus = {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    val base = (0 until 60).map { i =>
      (i.toLong, Array.fill(40)(words(rnd.nextInt(words.length)))
        .mkString(" "))
    }
    val nearDups = base.take(20).map { case (i, text) =>
      val toks = text.split(" ")
      toks(7) = "changed"; toks(23) = "altered"
      (1000L + i, toks.mkString(" "))
    }
    val exactDups = Seq((2000L, base.head._2), (2001L, base.head._2))
    (base ++ nearDups ++ exactDups).toDF("doc_id", "text")
  }

  test("span dedup removes repeated windows keep-first and reassembles") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"), // spans at w=4: "a b c d" | "e f g h"
      (2L, "a b c d x y z w"), // first span duplicates doc 1 pos 0
      (3L, "p q r s p q r s p q r s"), // within-doc repetition
      (4L, "short"), // single whole-text span
      (5L, "short") // duplicate of doc 4's only span
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(docs, width = 4).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("a b c d e f g h", 2L, 0L)))
    assert(out(2L) == (("x y z w", 1L, 1L)))
    assert(out(3L) == (("p q r s", 1L, 2L)))
    assert(out(4L) == (("short", 1L, 0L)))
    assert(out(5L) == (("", 0L, 1L)))
  }

  test("span dedup decisions are hash-agnostic (xxhash64 = md5 variant)") {
    val md5h = (c: org.apache.spark.sql.Column) =>
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    def run(h: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      Dedup.dedupSpans(corpus, width = 8, hash = h)
        .orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSeq
    val a = run(xxhash64(_))
    assert(a == run(md5h))
    // the near-dup family shares unchanged spans: dups lose them
    val byId = a.map(r => r._1 -> r._4).toMap
    assert((0 until 20).forall(i => byId(1000L + i) >= 2),
      "near-dup docs should lose their unchanged spans")
    assert(byId(2000L) + byId(2001L) >= 10,
      "exact dups should be removed nearly whole")
  }

  test("exact dedup groups identical texts under min id") {
    val out = Dedup.exact(corpus).filter(col("group_size") > 1)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.keySet == Set(0L, 2000L, 2001L))
    assert(rows.values.toSet == Set(0L))
  }

  test("minhash LSH finds planted near-dups with no false positives") {
    // planted overlap ≈ 0.71–0.85; r=2 (32 bands) gives P(miss) ≈ 1e-9
    // vs ~1e-2 at the r=4 default that's tuned for s ≥ 0.8
    val dups = Dedup.minHashNearDups(corpus,
      Dedup.MinHashConfig(bands = 32, jaccardThreshold = 0.6))
    val pairs = dups.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // all 20 planted near-dup pairs recovered
    (0 until 20).foreach { i =>
      assert(pairs.contains((i.toLong, 1000L + i)), s"missing pair $i")
    }
    // exact dups too
    assert(pairs.contains((0L, 2000L)) && pairs.contains((0L, 2001L)))
    // nothing across unrelated docs (doc 0's family = {0, 1000 near-dup,
    // 2000/2001 exact copies} — any pair inside it is a true positive)
    val family0 = Set(0L, 1000L, 2000L, 2001L)
    val unrelated = pairs.filterNot { case (a, b) =>
      (b - a == 1000) || Set(a, b).subsetOf(family0)
    }
    assert(unrelated.isEmpty, s"false positives: $unrelated")
  }

  test("OPH minhash recalls the planted near-dups (1 hash per shingle)") {
    val dups = Dedup.minHashNearDups(corpus,
      Dedup.MinHashConfig(bands = 32, jaccardThreshold = 0.6, oph = true))
    val pairs = dups.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 20).foreach { i =>
      assert(pairs.contains((i.toLong, 1000L + i)), s"missing pair $i")
    }
    assert(pairs.contains((0L, 2000L)) && pairs.contains((0L, 2001L)))
    // precision is exact regardless of OPH: the verify stage recomputes
    // true Jaccard, so no pair below threshold can survive
    val family0 = Set(0L, 1000L, 2000L, 2001L)
    val unrelated = pairs.filterNot { case (a, b) =>
      (b - a == 1000) || Set(a, b).subsetOf(family0)
    }
    assert(unrelated.isEmpty, s"false positives: $unrelated")
  }

  test("OPH densification: short docs (empty bins) yield full signatures") {
    import spark.implicits._
    // 4 tokens → 2 shingles over k=64 bins: ~62 bins densify by rotation
    val tiny = Seq((1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "unrelated words entirely here")).toDF("doc_id", "text")
    val sigs = Dedup.minHashSignaturesOPH(
      Dedup.explodedShingles(tiny), Dedup.MinHashConfig())
      .collect().map(r => r.getLong(0) ->
        r.getSeq[java.lang.Long](1)).toMap
    assert(sigs.values.forall(_.length == 64))
    assert(sigs.values.forall(_.forall(_ != null)))
    assert(sigs(1L) == sigs(2L), "identical docs → identical OPH sigs")
    assert(sigs(1L) != sigs(3L), "different docs → different OPH sigs")
  }

  test("simhash near-dups at hamming<=3 catch small edits") {
    import spark.implicits._
    // one-word edit on a 40-word doc flips few simhash bits
    val base = corpus.filter(col("doc_id") < 60)
    val oneEdit = base.limit(10).as[(Long, String)].collect().map {
      case (id, text) =>
        val toks = text.split(" "); toks(3) = "edited"
        (3000L + id, toks.mkString(" "))
    }
    val all = base.unionByName(oneEdit.toSeq.toDF("doc_id", "text"))
    val sigs = Dedup.simHash(all)
    val dups = Dedup.simHashNearDups(sigs, maxDistance = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = (0 until 10).count(i => dups.contains((i.toLong, 3000L + i)))
    assert(found >= 8, s"only $found/10 one-edit pairs at hamming<=8")
  }

  test("simhash banding is pigeonhole-EXACT at the configured distance") {
    // brute-force ground truth: every pair within hamming <= d must be
    // found — bands are derived as d+1, so any distance is exact (round 1
    // hard-coded 4 bands, exact only for d <= 3)
    val sigs = Dedup.simHash(corpus)
    val sigMap = sigs.collect().map(r => r.getLong(0) -> r.getLong(1))
    for (d <- Seq(3, 8)) {
      val truth = (for {
        (ia, sa) <- sigMap; (ib, sb) <- sigMap if ia < ib
        if java.lang.Long.bitCount(sa ^ sb) <= d
      } yield (ia, ib)).toSet
      val found = Dedup.simHashNearDups(sigs, maxDistance = d)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(found == truth,
        s"d=$d: missed ${truth -- found}, extra ${found -- truth}")
    }
  }

  test("exact dedup survives one degenerate mega-duplicate group") {
    import spark.implicits._
    // 100k identical empty docs + 5 distinct: the round-1 collect_list
    // materialized the whole group in a single aggregation buffer; the
    // join-back shape must return every id with the right keeper/size
    val mega = spark.range(100000).select(col("id").as("doc_id"),
      lit("").as("text"))
    val distinctDocs = Seq((200001L, "x"), (200002L, "y"), (200003L, "z"),
      (200004L, "w"), (200005L, "v")).toDF("doc_id", "text")
    val out = Dedup.exact(mega.unionByName(distinctDocs))
    assert(out.count() == 100005L)
    val megaRows = out.filter(col("group_size") === 100000L)
    assert(megaRows.count() == 100000L)
    assert(megaRows.filter(col("keeper") =!= 0L).count() == 0L)
    assert(out.filter(col("group_size") === 1L).count() == 5L)
  }

  test("simhash hot-bucket cap bounds a planted mega-bucket") {
    import spark.implicits._
    // 500 IDENTICAL docs collapse to one simhash → every band bucket
    // holds 500 rows; uncapped, the banded self-join builds 500²/2 pairs
    // per band inside ONE partition. With the floor lowered to 50 for
    // test scale (the production default of 5000 exists so organic
    // near-dup families in small corpora are never capped), the cap
    // min(20000, max(50, 2%·N)) = 50 < 500 drops those buckets — the
    // documented recall trade: identical floods belong to exact dedup —
    // while a small near-dup family elsewhere is still found.
    val mega = spark.range(500).select((col("id") + 10000).as("doc_id"),
      lit("flood flood flood flood flood").as("text"))
    val control = Seq(
      (1L, corpus.filter(col("doc_id") === 0L).head().getString(1)),
      (2L, corpus.filter(col("doc_id") === 1000L).head().getString(1)))
      .toDF("doc_id", "text")
    val sigs = Dedup.simHash(mega.unionByName(control))
    val out = Dedup.simHashNearDups(sigs, maxDistance = 3,
      minBucketCap = 50)
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists { case (a, b) => a >= 10000L || b >= 10000L },
      "mega-bucket pairs must be dropped by the cap")
    assert(pairs == Set((1L, 2L)),
      s"the uncapped control near-dup pair must survive: $pairs")
    out.unpersist()
    // capRatio >= 1 disables the guard: the flood pairs come back
    val uncapped = Dedup.simHashNearDups(sigs, maxDistance = 3,
      capRatio = 1.0)
    assert(uncapped.filter(col("id_a") >= 10000L).count() ==
      500L * 499L / 2L)
  }

  test("minhash hot-bucket cap bounds a planted mega-bucket") {
    import spark.implicits._
    // 300 identical docs share every band bucket; the cap (floor lowered
    // to 50 for test scale — the production default of 5000 protects
    // organic small-corpus families) drops those buckets from
    // lshCandidates while the planted near-dup family in `corpus` is
    // still fully recalled (its buckets stay tiny)
    val mega = spark.range(300).select((col("id") + 50000).as("doc_id"),
      lit("flood of identical tokens repeated here").as("text"))
    val dups = Dedup.minHashNearDups(corpus.unionByName(mega),
      Dedup.MinHashConfig(bands = 32, jaccardThreshold = 0.6,
        minBucketCap = 50))
    val pairs = dups.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists { case (a, b) => a >= 50000L || b >= 50000L },
      "mega-bucket pairs must be dropped by the cap")
    (0 until 20).foreach { i =>
      assert(pairs.contains((i.toLong, 1000L + i)),
        s"planted pair $i lost to an unrelated cap")
    }
    dups.unpersist()
  }

  test("repetition features match hand-computed truth incl. tie-break") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b c"),          // "a b"×2: dup_word 0.4, masses 12/6
      (2L, "a b a c a b a c"),    // three grams tied at 2 → "b a" wins
      (3L, "solo"),               // < n tokens: zero fracs, empty gram
      (4L, "w x y z")             // all unique: dup fracs 0
    ).toDF("doc_id", "text")
    val got = graft.data.TextAnalysis.repetitionFeatures(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getString(3),
          r.getDouble(4)))).toMap
    assert(got(1L) == ((0.4, 0.5, "a b", 0.5)), s"doc1: ${got(1L)}")
    // doc2 grams: "a b"×2 "b a"×2 "a c"×2 "c a"×1; mass 21, dup 18;
    // top tie at cnt 2 → lexicographically greatest "b a"; 6/21
    assert(got(2L) == ((0.625, 0.857143, "b a", 0.285714)),
      s"doc2: ${got(2L)}")
    assert(got(3L) == ((0.0, 0.0, "", 0.0)), s"doc3: ${got(3L)}")
    // no repeats: top gram is the lexicographically greatest 1-count gram
    assert(got(4L) == ((0.0, 0.0, "y z", 0.333333)), s"doc4: ${got(4L)}")
  }

  test("ngram jaccard verification is exact") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d x"),
      (3L, "p q r s t")).toDF("doc_id", "text")
    val shingles = docs.select(col("doc_id"),
      graft.linkage.expr.functions.minhash_shingles(col("text"), 3)
        .as("shingles"))
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val j = Dedup.verifyPairs(pairs, shingles, "doc_id").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // shingles(1)={abc,bcd,cde}, shingles(2)={abc,bcd,cdx}: 2/4
    assert(math.abs(j((1L, 2L)) - 0.5) < 1e-12)
    assert(j((1L, 3L)) == 0.0)
  }

  private lazy val embeddings = {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0 until 200).map(i => (i.toLong, vec()))
    // planted near-dups: tiny perturbation of first 10
    val near = base.take(10).map { case (i, v) =>
      (5000L + i, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    (base ++ near).toDF("vec_id", "embedding")
  }

  test("brute-force topk: self similarity and planted neighbor first") {
    import spark.implicits._
    val queries = embeddings.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val topk = Ann.bruteForceTopK(embeddings, queries, k = 2)
    val byQ = topk.collect().groupBy(_.getLong(0))
    (0L until 3L).foreach { q =>
      val ranked = byQ(q).sortBy(_.getInt(3)).map(_.getLong(1))
      assert(ranked(0) == q, s"rank1 of $q should be itself")
      assert(ranked(1) == 5000L + q,
        s"rank2 of $q should be its planted near-dup, got ${ranked(1)}")
    }
  }

  test("LSH topk recalls the planted neighbor") {
    val queries = embeddings.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val topk = Ann.lshTopK(embeddings, queries, k = 2)
    val byQ = topk.collect().groupBy(_.getLong(0))
    val hits = (0L until 10L).count { q =>
      byQ.get(q).exists(_.exists(_.getLong(1) == 5000L + q))
    }
    assert(hits >= 9, s"LSH recall $hits/10 for planted near-identical dups")
  }

  test("IVF topk matches brute force on planted near-dups") {
    val queries = embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val topk = Ann.ivfTopK(embeddings, queries, k = 2,
      Ann.IvfConfig(nCentroids = 8, nProbe = 3))
    val byQ = topk.collect().groupBy(_.getLong(0))
    val hits = (0L until 5L).count { q =>
      byQ.get(q).exists(_.exists(_.getLong(1) == 5000L + q))
    }
    assert(hits >= 4, s"IVF recall $hits/5")
  }

  test("near-dup clusters: transitive chains collapse, singletons kept") {
    val clusters = Dedup.nearDupClusters(corpus,
      Dedup.MinHashConfig(bands = 32, jaccardThreshold = 0.6))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every input doc is labeled
    assert(clusters.size == corpus.count())
    // doc 0's family {0, near-dup 1000, exact copies 2000, 2001} is ONE
    // group labeled by the min id — including the (1000, 2000) link that
    // exists only transitively through 0
    assert(Set(0L, 1000L, 2000L, 2001L).forall(clusters(_) == 0L),
      s"family of 0: ${Set(0L, 1000L, 2000L, 2001L).map(clusters)}")
    // each planted pair (i, 1000+i) shares a group labeled i
    (1 until 20).foreach { i =>
      assert(clusters(i.toLong) == i.toLong &&
        clusters(1000L + i) == i.toLong, s"pair $i split")
    }
    // an unplanted doc (i >= 20 has no near-dup twin) is its own singleton
    assert(clusters(50L) == 50L)
  }

  test("tf-idf top terms: hand-computed values, df over the whole corpus") {
    import spark.implicits._
    // 4 docs; "rare" appears only in doc 0, "both" in docs 0+2,
    // "common" in all four
    val docs = Seq(
      (0L, "rare both common common"),
      (1L, "common filler words here"),
      (2L, "both common filler words"),
      (3L, "common words filler too")).toDF("doc_id", "text")
    val top = graft.data.TextAnalysis.tfIdfTopTerms(docs,
        select = col("doc_id") === 0, k = 3)
      .collect().map(r => (r.getString(1), r.getDouble(2), r.getInt(3)))
    // doc 0: n_tok=4. rare: (1/4)ln(4/1)=0.346574; both: (1/4)ln(4/2)
    // =0.173287; common: (2/4)ln(4/4)=0
    assert(top.toSeq == Seq(
      ("rare", 0.346574, 1), ("both", 0.173287, 2), ("common", 0.0, 3)),
      s"got: ${top.toSeq}")
  }

  test("language ID heuristic") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat and it is a good day for all of us"),
      (2L, "der hund ist nicht mit der katze und das ist ein problem"),
      (3L, "le chat est sur la table et les enfants sont pour une pause"),
      (4L, "el perro es un animal y la casa es de los padres por ahora"),
      (5L, "你好 世界 这是 中文 文本 测试"),
      (6L, "zzz qqq xxx www")).toDF("doc_id", "text")
    // (the per-row Column form it once matched is TextKernelSpec's oracle)
    val withEmpty = docs.unionByName(Seq((7L, "")).toDF("doc_id", "text"))
    val out = TextAnalysis.langGuessDf(withEmpty)
      .select(col("doc_id"), col("lang_guess")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en"); assert(out(2L) == "de")
    assert(out(3L) == "fr"); assert(out(4L) == "es")
    assert(out(5L) == "zh"); assert(out(6L) == "und")
    assert(out(7L) == "und")
  }

  test("rows sharing an id each get their own guess and repetition") {
    import spark.implicits._
    // one English and one German text under the same doc_id: per-id
    // grouping would hand both rows the combined hits (de 6 > en 3) and
    // the combined gram counts
    val en = "the cat and the dog"
    val de = "der hund und die katze und der vogel ist da"
    val docs = Seq((1L, en), (1L, de)).toDF("doc_id", "text")
    val guesses = TextAnalysis.langGuessDf(docs)
      .select("text", "lang_guess").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(guesses == Map(en -> "en", de -> "de"), s"$guesses")
    val rep = TextAnalysis.repetitionFeatures(docs, n = 1)
      .select("dup_word_frac", "top_ngram").collect()
      .map(r => (r.getDouble(0), r.getString(1))).toSet
    // en: "the" twice of 5 words; de: "der"/"und" twice of 10, "und" the
    // greatest of the tied top words
    assert(rep == Set((0.2, "the"), (0.2, "und")), s"$rep")
  }

  test("tokenization + quality + fingerprints") {
    import spark.implicits._
    val docs = Seq((1L, "Hello, world! 42 times."), (2L, ""),
      (3L, "a a a a a a a a a a a a")).toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("ws"),
      TextAnalysis.bpeishTokenCount(col("text")).as("bpe")).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(toks(1L) == ((4, 7))) // Hello , world ! 42 times . → 7 bpe-ish
    assert(toks(2L) == ((0, 0)))
    val q = TextAnalysis.qualityFeatures(docs)
      .select("doc_id", "ttr").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(3L) < 0.1) // repeated token → tiny type-token ratio
    // fingerprints: identical text → identical fps; edit changes content
    val fps = TextAnalysis.fingerprints(
      Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"),
        (3L, "a b c d e f h")).toDF("doc_id", "text"))
      .select("doc_id", "content_hash", "min_gram_fp").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L)._1 != fps(3L)._1)
  }

  test("multimodal: stub decode and features") {
    val media = Multimodal.synthMedia(spark, 90)
    val feats = Multimodal.extractFeatures(media)
    assert(feats.count() == 90)
    val f = feats.filter(col("modality") === "image").head()
    assert(f.n_bytes >= 256 && f.mean_byte > 64 && f.mean_byte < 192)
  }
}
