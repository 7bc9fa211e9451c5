package perfbench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.linkage.SynthTranscripts

/** Seeded input generators. The program only ever sees what these write. */
object Inputs {

  /** link-dense: forked or retried transcripts — most seeds have several
    * garbled copies and many share their first turn with a near-miss. */
  def denseConfig(seed: Long, seeds: Int): SynthTranscripts.Config =
    SynthTranscripts.Config(seed = seed, nConvs = seeds, dupFrac = 0.9,
      maxDupsPerSeed = 8, sharedFirstTurnFrac = 0.3,
      days = math.max(20, seeds / 500))

  /** Split by conversation hash, so a conversation is whole within its
    * batch while garble families span batches (LinkageStream's
    * contract). */
  def batchOf(batches: Int) =
    pmod(xxhash64(col("conv_id")), lit(batches.toLong))

  // ---------- clean-corpus documents ----------

  private val Stop = Array("the", "a", "and", "of", "to", "in", "is", "that",
    "it", "for")
  private val German = Array("der", "die", "das", "und", "ist", "nicht",
    "ein", "zu", "mit", "den")
  private val Symbols = Array("!!!", "$$$", "###", "***", "%%%", "&&&")
  private val Words: Array[String] = {
    val roots = Array("table", "river", "window", "market", "garden",
      "signal", "harbor", "engine", "letter", "summer", "forest", "silver",
      "bridge", "pocket", "circle", "planet", "ticket", "bottle", "camera",
      "doctor", "farmer", "island", "jacket", "kitten", "ladder", "mirror",
      "needle", "orange", "pencil", "rabbit", "saddle", "tunnel", "velvet",
      "wallet", "yellow", "anchor", "basket", "candle", "dinner", "empire",
      "fabric", "gravel", "hammer", "insect", "jungle", "kettle", "lemon",
      "meadow", "napkin", "office")
    roots ++ roots.map(_ + "s") ++ roots.map(_ + "ing") ++ roots.map(_ + "er") ++
      roots.map(r => "re" + r) ++ roots.map(_ + "ly")
  }

  case class Doc(doc_id: Long, text: String)

  /** Planted structure of base document `i` (deterministic in seed, i). */
  case class Plan(exactCopies: Int, nearCopies: Int, lowQuality: Boolean,
                  german: Boolean, email: Boolean)

  def planFor(seed: Long, i: Long): Plan = {
    val r = new Random(seed * 31 + i * 0x9E3779B97F4A7C15L)
    val exact = if (r.nextDouble() < 0.15) 1 + r.nextInt(2) else 0
    val near = if (r.nextDouble() < 0.25) 1 + r.nextInt(3) else 0
    Plan(exact, near, r.nextDouble() < 0.08, r.nextDouble() < 0.08,
      r.nextDouble() < 0.1)
  }

  private def englishText(r: Random, n: Int): Array[String] =
    Array.fill(n)(if (r.nextDouble() < 0.3) Stop(r.nextInt(Stop.length))
                  else Words(r.nextInt(Words.length)))

  /** One base document and its planted copies; ids are i*8 + variant:
    * 0 base, 1–2 exact copies, 3–5 near copies, 6 German, 7 low quality.
    * Edits land at token 4 or later, so the planted email survives. */
  def docsFor(seed: Long, i: Long): Seq[Doc] = {
    val r = new Random(seed ^ (i * 0x2545F4914F6CDD1DL))
    val p = planFor(seed, i)
    val id0 = i * 8
    val base = englishText(r, 60 + r.nextInt(61))
    // an address for the redaction stage to scrub (copies inherit it)
    if (p.email) base(1) = s"user$i@mail.example.org"
    val baseText = base.mkString(" ")
    val exact = (1 to p.exactCopies).map(k => Doc(id0 + k, baseText))
    // near copies: one replaced word per 40 tokens, so word-3-shingle
    // Jaccard to the base stays above 0.8; copy k edits only offsets
    // 4+11(k-1) .. +7 of each 40-token window, so no two copies of one
    // base can come out identical
    val near = (1 to p.nearCopies).map { k =>
      val t = base.clone()
      (0 until base.length / 40).foreach { e =>
        val pos = e * 40 + 4 + 11 * (k - 1) + r.nextInt(8)
        var w = Words(r.nextInt(Words.length))
        while (w == t(pos)) w = Words(r.nextInt(Words.length))
        t(pos) = w
      }
      Doc(id0 + 2 + k, t.mkString(" "))
    }
    // low-quality: a few symbol runs around one tagged word (score 0.15)
    val low = if (p.lowQuality)
      Seq(Doc(id0 + 7, (Array.fill(3 + r.nextInt(4))(
        Symbols(r.nextInt(Symbols.length))) :+ s"offer$i").mkString(" ")))
    else Nil
    // German stopwords dominate: passes quality, fails the en language pin
    val de = if (p.german)
      Seq(Doc(id0 + 6, Array.fill(40 + r.nextInt(40))(
        if (r.nextDouble() < 0.4) German(r.nextInt(German.length))
        else Words(r.nextInt(Words.length))).mkString(" ")))
    else Nil
    Seq(Doc(id0, baseText)) ++ exact ++ near ++ low ++ de
  }

  def docs(spark: SparkSession, seed: Long, bases: Int): DataFrame = {
    import spark.implicits._
    spark.range(bases).flatMap(i => docsFor(seed, i)).toDF()
  }

  /** Docs the exact stage must drop: every planted exact copy. */
  def plantedExactCopies(seed: Long, bases: Int): Long =
    (0L until bases).map(i => planFor(seed, i).exactCopies.toLong).sum
}
