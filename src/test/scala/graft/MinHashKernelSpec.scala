package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Literal, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.data.Dedup
import graft.linkage.expr.{LshBands, MinHashShingles, MinHashSignature,
  SortedJaccardAbove, functions => gf}

/** Pins the MinHash kernel (expr.MinHash: shingle set, standard and OPH
  * signatures, LSH bands, sorted-merge Jaccard) bit for bit — through its
  * codegen'd expressions and their interpreted `eval` — to the Spark SQL
  * pipeline it replaced, kept here as its oracle: word n-grams by
  * zip_with over shifted slices, an explode + xxhash64 + distinct shingle
  * relation, k min-aggregate columns (standard), the two-aggregate OPH
  * with interpreted rotation densification, concat_ws band hashes and the
  * union-count exact-Jaccard verify. */
class MinHashKernelSpec extends AnyFunSuite with SparkFixture {

  // ---------- the Column oracle ----------

  private def oracleShingles(text: Column, n: Int): Column = {
    val toks = split(trim(text), "\\s+")
    val cnt = size(toks)
    val joined = (2 to n).foldLeft(toks) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k), greatest(cnt - (k - 1), lit(0))),
        (a, b) => concat(a, lit(" "), b))
    }
    when(cnt >= n, filter(joined, g => g.isNotNull))
      .otherwise(array(trim(text)))
  }

  private def oracleExploded(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), explode(oracleShingles(col("text"), n)).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("shingle"))
      .distinct()

  private def oracleStandard(exploded: DataFrame, k: Int,
                             seed: Long): DataFrame = {
    val mins = (0 until k).map(i =>
      min(xxhash64(lit(seed), lit(i), col("shingle"))).as(s"_mh$i"))
    exploded.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"_mh$i")): _*).as("sig"))
  }

  private def oracleOph(exploded: DataFrame, k: Int, seed: Long): DataFrame = {
    val mins = (0 until k).map(i =>
      min(when(col("bin") === i, col("mh"))).as(s"_bm$i"))
    val agged = exploded
      .select(col("doc_id"), xxhash64(lit(seed), col("shingle")).as("h"))
      .select(col("doc_id"), col("h"),
        pmod(col("h"), lit(k.toLong)).cast("int").as("bin"))
      .groupBy(col("doc_id"), col("bin"))
      .agg(min(col("h")).as("mh"))
      .groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"_bm$i")): _*).as("_arr"))
      .select(col("doc_id"), col("_arr"),
        filter(sequence(lit(0), lit(k - 1)),
          i => element_at(col("_arr"), i + 1).isNotNull).as("bins"))
    agged.select(col("doc_id"),
      transform(sequence(lit(0), lit(k - 1)), j => {
        val b = coalesce(try_element_at(filter(col("bins"), _ >= j), lit(1)),
          element_at(col("bins"), 1))
        val t = when(b >= j, b - j).otherwise(b - j + k)
        element_at(col("_arr"), b + 1) + t.cast("long")
      }).as("sig"))
  }

  private def oracleBuckets(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    sigs.select(col("doc_id"), transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, concat_ws(",", slice(col("sig"), b * r + 1, lit(r)))))
      .as("buckets"))
  }

  private def oracleJaccard(exploded: DataFrame, pairs: DataFrame): DataFrame = {
    val ea = exploded.toDF("id_a", "shingle")
    val eb = exploded.toDF("id_b", "shingle")
    pairs.join(ea, "id_a").select("id_a", "id_b", "shingle")
      .unionByName(pairs.join(eb, "id_b").select("id_a", "id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"), col("shingle"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("u"),
        sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("i"))
      .select(col("id_a"), col("id_b"),
        (col("i").cast("double") / col("u")).as("jaccard"))
  }

  // ---------- the seeded corpus ----------

  private val Null = Option.empty[Array[Byte]]
  private def utf8(s: String) = Some(s.getBytes("UTF-8"))

  /** (doc_id, raw text bytes): the edge cases, then seeded random docs
    * over a small vocabulary (repeated grams) mixing multibyte words and
    * every \s whitespace byte. Raw bytes so malformed UTF-8 is a case. */
  private lazy val texts: Seq[(Long, Option[Array[Byte]])] = {
    val rnd = new scala.util.Random(1313L)
    val vocab = Seq("the", "cat", "sat", "on", "a", "mat", "straße",
      "naïve", "日本語", "😀", "x", "über", "déjà", "vu", "dog")
    val seps = Seq(" ", " ", " ", "  ", "\t", "\n", " \t ", "\r\n",
      "\u000b", "\f")
    val edge = Seq(Null, utf8(""), utf8("   "), utf8(" \t "), utf8("\t"),
      utf8("\ta b c d"), utf8("\na b"), utf8("a b c d\n"), utf8("one"),
      utf8("  one  "), utf8("one two"), utf8("one\ttwo"), utf8("  one two "),
      utf8("a b a b a b a b a b"), utf8("日本語 😀 naïve straße"),
      Some(Array[Byte]('a', ' ', 'b', ' ', 0xC3.toByte, ' ', 'c')),
      Some(Array[Byte]('a', ' ', 0xED.toByte, 0xA0.toByte, 0x80.toByte,
        ' ', 'b', ' ', 'c', ' ', 'd')),
      Some(Array[Byte](0xFF.toByte, ' ', 'q')),
      utf8(Seq.fill(5000)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val random = (0 until RandomCount).map { _ =>
      val n = rnd.nextInt(if (rnd.nextInt(10) == 0) 200 else 30)
      val words = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
      val body = words.map(w => w + seps(rnd.nextInt(seps.size))).mkString
      val lead = Seq("", "", "", " ", "  ", "\t", "\n ")(rnd.nextInt(7))
      utf8(lead + body.dropRight(rnd.nextInt(2)))
    }
    // re-spaced (same tokens: Jaccard 1) and extended (high Jaccard)
    // copies of the first random docs, paired in the verify property
    val copies = random.take(CopyCount).zipWithIndex.map { case (t, i) =>
      val s = new String(t.get, "UTF-8")
      utf8(if (i % 2 == 0) s.replaceFirst(" ", "\t\t") else s + " tail end")
    }
    require(edge.size == EdgeCount)
    (edge ++ random ++ copies).zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }
  private val EdgeCount = 19
  private val RandomCount = 400
  private val CopyCount = 40

  private def utf8Of(t: Option[Array[Byte]]): UTF8String =
    t.map(UTF8String.fromBytes).orNull

  /** RDD-backed (doc_id, text): keeps projections on the codegen path
    * (ConvertToLocalRelation would evaluate a local relation interpreted). */
  private lazy val docs: DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(texts, 4).toDF("doc_id", "bin")
      .select(col("doc_id"), col("bin").cast("string").as("text"))
  }

  private def longsOf(a: ArrayData): Seq[Long] = a.toLongArray().toSeq
  private def collectArrays(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  private def kernelShingles(n: Int): Map[Long, Seq[Long]] =
    collectArrays(docs.select(col("doc_id"), gf.minhash_shingles(col("text"), n)))

  private def shinglesEval(t: Option[Array[Byte]], n: Int): Seq[Long] =
    longsOf(MinHashShingles(Literal(utf8Of(t), StringType), n).eval()
      .asInstanceOf[ArrayData])

  private def arrayLit(xs: Seq[Long]) =
    Literal.create(xs.toArray, ArrayType(LongType, containsNull = false))

  // ---------- properties ----------

  test("shingle sets ≡ Column oracle (codegen and interpreted)") {
    Seq(1, 2, 3, 5).foreach { n =>
      val want = oracleExploded(docs, n).groupBy("doc_id")
        .agg(sort_array(collect_list(col("shingle"))))
      val oracle = collectArrays(want)
      val codegen = kernelShingles(n)
      assert(oracle.size == texts.size && codegen.size == texts.size)
      texts.foreach { case (id, t) =>
        assert(codegen(id) == oracle(id),
          s"n=$n doc $id ${t.map(b => new String(b, "UTF-8").take(40))}")
        assert(shinglesEval(t, n) == oracle(id), s"n=$n doc $id (eval)")
      }
      // the adapter emits the same (id, shingle) relation, no distinct
      val adapter = Dedup.explodedShingles(docs, n = n)
      assert(adapter.count() == oracle.values.map(_.size).sum &&
        adapter.exceptAll(oracleExploded(docs, n)).isEmpty)
    }
    // null text is the null gram, whose xxhash64 is the seed
    assert(kernelShingles(3)(0L) == Seq(42L))
  }

  test("signatures and band buckets ≡ Column oracle (standard + OPH)") {
    val k = 64
    val seed = 42L
    val exploded = oracleExploded(docs, 3).persist()
    val shingles = kernelShingles(3)
    // the OPH property reaches sparse docs: empty bins, and an empty
    // LAST bin, whose densification wraps to the first filled bin
    val ophBase = XXH64.hashLong(seed, 42L)
    def bins(id: Long) = shingles(id).map(s =>
      java.lang.Math.floorMod(XXH64.hashLong(s, ophBase), k.toLong)).toSet
    assert(texts.count { case (id, _) => bins(id).size < k / 4 } > 100)
    assert(texts.count { case (id, _) => !bins(id).contains(k - 1L) } > 100)
    Seq(false, true).foreach { oph =>
      val want = if (oph) oracleOph(exploded, k, seed)
                 else oracleStandard(exploded, k, seed)
      val wantSigs = collectArrays(want)
      val cfg = Dedup.MinHashConfig(numHashes = k, seed = seed, oph = oph)
      val gotSigs = collectArrays(docs.select(col("doc_id"), gf.minhash_signature(
        gf.minhash_shingles(col("text"), cfg.shingleSize), k, seed, oph)))
      // the exploded-shingle adapter exists for OPH only
      val adapter = if (oph)
        Some(collectArrays(Dedup.minHashSignaturesOPH(exploded, cfg)))
      else None
      texts.foreach { case (id, _) =>
        assert(wantSigs(id).size == k)
        assert(gotSigs(id) == wantSigs(id), s"oph=$oph doc $id")
        adapter.foreach(a =>
          assert(a(id) == wantSigs(id), s"oph=$oph doc $id (adapter)"))
        val interpreted = MinHashSignature(arrayLit(shingles(id)), k, seed, oph)
          .eval().asInstanceOf[ArrayData]
        assert(longsOf(interpreted) == wantSigs(id), s"oph=$oph doc $id (eval)")
      }
      Seq(8, 16, 64).foreach { bands =>
        val bcfg = cfg.copy(bands = bands)
        val wantB = collectArrays(oracleBuckets(want, k, bands))
        val gotB = collectArrays(Dedup.minHashDocs(docs, bcfg, "doc_id", "text")
          .select("doc_id", "buckets"))
        val rows = Dedup.lshBuckets(want, bcfg).collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        assert(rows == wantB.toSeq.flatMap { case (id, bs) =>
          bs.zipWithIndex.map { case (b, i) => (id, i, b) } }.toSet)
        texts.foreach { case (id, _) =>
          assert(gotB(id) == wantB(id), s"oph=$oph bands=$bands doc $id")
          val interpreted = LshBands(arrayLit(wantSigs(id)), bands, k / bands)
            .eval().asInstanceOf[ArrayData]
          assert(longsOf(interpreted) == wantB(id),
            s"oph=$oph bands=$bands doc $id (eval)")
        }
      }
    }
    exploded.unpersist()
  }

  test("sorted_jaccard ≡ the union-count verify, bit for bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(77L)
    val ids = texts.map(_._1)
    val copyPairs = (0 until CopyCount).map(i =>
      ((EdgeCount + i).toLong, (EdgeCount + RandomCount + i).toLong))
    val pairs = (Seq((5L, 6L), (9L, 10L), (0L, 1L)) ++ copyPairs ++
      Seq.fill(600)((ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size))))
        .filter { case (a, b) => a < b }).distinct
    val pairDf = pairs.toDF("id_a", "id_b")
    val want = oracleJaccard(oracleExploded(docs, 3), pairDf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val sh = docs.select(col("doc_id"), gf.minhash_shingles(col("text"), 3).as("shingles"))
    val got = Dedup.verifyPairs(pairDf, sh, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val shingles = kernelShingles(3)
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    assert(want.size == pairs.size && got.size == pairs.size)
    pairs.foreach { p =>
      assert(bits(got(p)) == bits(want(p)), s"$p: ${got(p)} vs ${want(p)}")
      val interpreted = SortedJaccardAbove(arrayLit(shingles(p._1)),
        arrayLit(shingles(p._2)), 0.0).eval().asInstanceOf[ArrayData]
        .getDouble(0)
      assert(bits(interpreted) == bits(want(p)), s"$p (eval)")
    }
    // the pairs reach both ends and the middle of the range
    assert(want.values.exists(_ == 0.0) && want.values.exists(_ == 1.0) &&
      want.values.count(j => j > 0.0 && j < 1.0) > 30)
  }

  test("minHashNearDups ≡ the Column pipeline end to end") {
    import spark.implicits._
    val rnd = new scala.util.Random(5L)
    val words = (0 until 300).map(i => s"w$i")
    val base = (0 until 120).map(i =>
      (i.toLong, Seq.fill(40)(words(rnd.nextInt(words.size))).mkString(" ")))
    // near copies: one word in 16 replaced (Jaccard ≈ 0.5–0.8)
    val near = base.take(60).map { case (i, t) =>
      (1000L + i, t.split(" ").map(w =>
        if (rnd.nextInt(16) == 0) "edit" + rnd.nextInt(9) else w).mkString(" "))
    }
    val corpus = (base ++ near).toDF("doc_id", "text")
    val exploded = oracleExploded(corpus, 3)
    Seq(Dedup.MinHashConfig(bands = 16, jaccardThreshold = 0.5),
      Dedup.MinHashConfig(bands = 32, jaccardThreshold = 0.5, oph = true))
      .foreach { cfg =>
        val sigs = if (cfg.oph) oracleOph(exploded, 64, cfg.seed)
                   else oracleStandard(exploded, 64, cfg.seed)
        val buckets = oracleBuckets(sigs, 64, cfg.bands)
          .select(col("doc_id"), posexplode(col("buckets")))
          .toDF("doc_id", "band", "bucket")
        val want = oracleJaccard(exploded, Dedup.lshCandidates(buckets))
          .filter(col("jaccard") >= cfg.jaccardThreshold).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val out = Dedup.minHashNearDups(corpus, cfg)
        val got = out.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        out.unpersist()
        assert(want.size >= 30, s"oph=${cfg.oph}: only ${want.size} pairs")
        assert(got == want, s"oph=${cfg.oph}: ${got.diff(want)} vs ${want.diff(got)}")
      }
  }
}
