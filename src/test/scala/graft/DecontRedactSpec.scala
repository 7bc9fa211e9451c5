package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.data.{Decontaminate, Redact}

/** Benchmark decontamination + PII redaction. */
class DecontRedactSpec extends AnyFunSuite with SparkFixture {

  private def ngrams(text: String, n: Int): Set[String] = {
    val toks = text.trim.split("\\s+").toSeq
    if (toks.size >= n) toks.sliding(n).map(_.mkString(" ")).toSet
    else Set(text.trim)
  }

  test("contamination report matches brute-force n-gram intersection") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "the quick brown cat sits very still today"),
      (4L, "completely unrelated words live here now"),
      (5L, "tiny doc")).toDF("doc_id", "text")
    val bench = Seq(
      (10L, "quick brown fox jumps high"),
      (11L, "five dozen liquor jugs"),
      (12L, "tiny doc")).toDF("bench_id", "text")

    val n = 3
    val docRows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val benchRows = bench.collect().map(r => (r.getLong(0), r.getString(1)))
    val truth = (for {
      (d, dt) <- docRows; (b, bt) <- benchRows
      shared = (ngrams(dt, n) intersect ngrams(bt, n)).size
      if shared >= 1
    } yield ((d, b), shared.toLong)).toMap

    val got = Decontaminate.contaminationReport(docs, bench, n = n)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    assert(got == truth, s"report mismatch: got $got truth $truth")

    // survivors = docs with no contaminated row; doc 5's whole-text
    // fallback gram must match bench 12's identical fallback gram
    val survivors = Decontaminate.decontaminate(docs, bench, n = n)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val contaminated = truth.keys.map(_._1).toSet
    assert(survivors == docRows.map(_._1).toSet -- contaminated)
    assert(contaminated.contains(5L),
      "short-doc fallback gram must register contamination")
  }

  test("benchmark gram relation is broadcast in the join plan") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val bench = Seq((9L, "c d e")).toDF("bench_id", "text")
    val plan = Decontaminate
      .contaminationReport(docs, bench, n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      s"benchmark side must broadcast:\n$plan")
    // the hint (not the physical choice — tiny test relations broadcast
    // regardless) is what must come and go with the flag
    val hinted = Decontaminate
      .contaminationReport(docs, bench, n = 3)
      .queryExecution.optimizedPlan.toString
    val unhinted = Decontaminate
      .contaminationReport(docs, bench, n = 3, broadcastBench = false)
      .queryExecution.optimizedPlan.toString
    assert(hinted.toLowerCase.contains("broadcast"),
      s"broadcast hint missing from optimized plan:\n$hinted")
    assert(!unhinted.toLowerCase.contains("broadcast"),
      s"broadcastBench=false must not plant a broadcast hint:\n$unhinted")
    // corpus grams must stream into the join UN-deduplicated: the only
    // shuffles are the bench-side distinct (tiny, under the broadcast),
    // the post-join (doc, bench, gram) distinct and the final count agg
    // — a corpus-wide gram distinct before the join would add a fourth
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 3,
      s"corpus-side shuffle before the broadcast join ($exchanges):\n$plan")
  }

  test("redaction goldens cover all five classes and ordering traps") {
    import spark.implicits._
    val rows = Seq(
      (1L, "mail bob.smith+x@corp.example.org today",
        "mail [EMAIL] today"),
      (2L, "ssn is 123-45-6789 ok", "ssn is [SSN] ok"),
      (3L, "card 4111 1111 1111 1111 charged", "card [CARD] charged"),
      (4L, "call 415-555-0199 or 415.555.0200",
        "call [PHONE] or [PHONE]"),
      (5L, "host 10.0.0.1 and 192.168.255.254 up",
        "host [IP] and [IP] up"),
      // a card must not be eaten as two phones (CARD runs first)
      (6L, "pay 1234 5678 9012 3456 now", "pay [CARD] now"),
      // pii inside an email is consumed by the email rule first
      (7L, "u.123-45-6789@ex.com wrote", "[EMAIL] wrote"),
      (8L, "no pii here at all", "no pii here at all"))
      .toDF("doc_id", "text", "expected")
    val out = Redact.redact(rows).select("doc_id", "redacted", "expected")
      .collect()
    out.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"doc ${r.getLong(0)}: got '${r.getString(1)}'")
    }
  }

  test("redaction is idempotent and counts are raw-text independent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a@b.co 123-45-6789 4111 1111 1111 1111 415-555-0100 8.8.8.8"))
      .toDF("doc_id", "text")
    val once = Redact.redact(docs, keepText = false)
      .withColumnRenamed("redacted", "text")
    val twice = Redact.redact(once, keepText = false)
    val r1 = once.select("text").head().getString(0)
    val r2 = twice.select("redacted").head().getString(0)
    assert(r1 == r2, s"not idempotent: '$r1' vs '$r2'")
    val counts = Redact.redact(docs).select(
      "n_email", "n_ssn", "n_card", "n_phone", "n_ip").head()
    assert((0 until 5).map(counts.getLong) == Seq(1L, 1L, 1L, 1L, 1L))
    // second pass sees placeholders only — all zero
    val counts2 = twice.select(
      "n_email", "n_ssn", "n_card", "n_phone", "n_ip").head()
    assert((0 until 5).map(counts2.getLong) == Seq(0L, 0L, 0L, 0L, 0L))
  }

  test("redaction prefilter ≡ the full rule chain, byte for byte") {
    import spark.implicits._
    // fragments around the prefilter's edges: non-ASCII digits (never
    // [0-9]), '@' without a domain, \b traps (a non-ASCII letter is a
    // \b boundary, '_' is not), and each PII class
    val parts = Seq("mail", "bob@", "@", "a@b", "x@y.c", "@corp.org",
      "bob.smith+x@corp.example.org", "٣٣٣-٤٥-٦٧٨٩", "１２３-４５-６７８９",
      "²³", "123-45-6789", "a123-45-6789b", "_415-555-0199",
      "é415-555-0199é", "4111 1111 1111 1111", "4111-1111-1111-1111x",
      "10.0.0.1", "1.2.3.4.5", "999.1.1.1", "straße", "日本", "😀", "no",
      "pii", "here", "7", "--", ".")
    val seps = Seq(" ", "", "\t", "\n", ", ")
    val rnd = new scala.util.Random(4242L)
    def utf8(s: String) = Some(s.getBytes("UTF-8"))
    val fixed = Seq(None, utf8(""), utf8("@"), utf8("no pii here"),
      utf8("٣ ٤ ٥"), Some(Array[Byte]('a', 0xC3.toByte, ' ', 'b')),
      Some(Array[Byte]('1', 0xFF.toByte, '@')))
    val random = (0 until 600).map { _ =>
      // half the docs draw only from fragments without [0-9@]
      val pool = if (rnd.nextBoolean()) parts
                 else parts.filterNot(_.exists(c => c == '@' || c.isDigit &&
                   c < 128))
      utf8(Seq.fill(1 + rnd.nextInt(8))(pool(rnd.nextInt(pool.size)) +
        seps(rnd.nextInt(seps.size))).mkString)
    }
    val texts = (fixed ++ random).zipWithIndex.map { case (t, i) =>
      (i.toLong, t) }
    val docs = spark.sparkContext.parallelize(texts, 4).toDF("id", "bin")
      .select(col("id"), col("bin").cast("string").as("text"))
    val chain = Redact.rules.foldLeft(col("text")) { case (acc, (re, tok)) =>
      regexp_replace(acc, re, tok)
    }
    val rows = docs.select(col("id"), col("text").cast("binary"),
      Redact.redactText(col("text")).cast("binary"), chain.cast("binary"))
      .collect()
    assert(rows.length == texts.size)
    rows.foreach { r =>
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](2),
        r.getAs[Array[Byte]](3)), s"doc ${r.getLong(0)}")
    }
    // both sides of the prefilter are reached: texts it returns as they
    // are, and texts the chain rewrites
    val unchanged = rows.count(r => r.get(1) != null &&
      java.util.Arrays.equals(r.getAs[Array[Byte]](1), r.getAs[Array[Byte]](2)))
    assert(unchanged > 200 && rows.length - unchanged > 100,
      s"$unchanged of ${rows.length} unchanged")
  }
}
