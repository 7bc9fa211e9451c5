package graft.data

import org.apache.spark.sql.{Dataset, SparkSession}

/** Multimodal column plumbing: image/audio/video as opaque binary columns
  * with typed metadata structs, processed by typed Dataset transforms.
  *
  * The codec step is STUBBED (no image/audio libraries exist in this
  * container): `FakeCodec.decode` strips a deterministic fake header
  * instead of invoking a real decoder — swap `FakeCodec` for a
  * JNI/library decoder on a real cluster. Everything around it — schema,
  * binary batching, iterator-to-iterator mapPartitions (the Scala analog
  * of mapInPandas batch shape) — is real and tested.
  */
object Multimodal {

  /** One media asset: opaque payload + typed metadata. */
  case class MediaRow(
      media_id: Long,
      modality: String, // image | audio | video
      payload: Array[Byte],
      width: Int, height: Int, duration_ms: Int, codec: String)

  case class MediaFeatures(
      media_id: Long, modality: String,
      width: Int, height: Int, duration_ms: Int,
      n_bytes: Int, mean_byte: Double, byte_entropy_q: Double)

  /** ======= STUB: deterministic fake codec =======
    * Fake payload layout: 8-byte magic "GRAFTMED", then an md5 chain
    * seeded by media_id: body byte j is byte (j % 16) of md5("<id>:<j/16>").
    * A real implementation would decode JPEG/PNG/WAV/MP4 here. The chain
    * (rather than a JVM PRNG) makes the stub CROSS-ENGINE deterministic:
    * the q_multimodal_features DuckDB oracle regenerates the identical
    * bytes from md5() + hex-nibble parsing and value-checks the feature
    * math end-to-end. */
  object FakeCodec {
    val Magic: Array[Byte] = "GRAFTMED".getBytes("ASCII")
    private[data] def md5Bytes(s: String): Array[Byte] =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("ASCII"))
    /** Big-endian u16 from the first two md5 bytes of "<id>:<tag>" —
      * the size/dimension selector shared with the SQL oracle. */
    private[data] def u16(id: Long, tag: String): Int = {
      val h = md5Bytes(s"$id:$tag")
      ((h(0) & 0xff) << 8) | (h(1) & 0xff)
    }
    def encode(id: Long, nBytes: Int): Array[Byte] = {
      val body = Array.tabulate((nBytes + 15) / 16)(j => md5Bytes(s"$id:$j"))
        .flatten.take(nBytes)
      Magic ++ body
    }
    /** ??? in spirit: the decode boundary. Returns the raw sample bytes. */
    def decode(payload: Array[Byte]): Array[Byte] = {
      require(payload.length >= Magic.length &&
        java.util.Arrays.equals(payload.take(Magic.length), Magic),
        "not a GRAFTMED payload (stub codec)")
      payload.drop(Magic.length)
    }
  }

  /** Deterministic synthetic media table (for tests/bench). Every field
    * derives from the md5-u16 selector, so a SQL engine can regenerate
    * the table exactly (the q_multimodal_features oracle does). */
  def synthMedia(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { i =>
      import FakeCodec.u16
      val modality = Seq("image", "audio", "video")((i % 3).toInt)
      val (w, h, d) = modality match {
        case "image" => (64 + u16(i, "w") % 512, 64 + u16(i, "h") % 512, 0)
        case "audio" => (0, 0, 1000 + u16(i, "d") % 60000)
        case _       => (320, 240, 1000 + u16(i, "d") % 30000)
      }
      MediaRow(i, modality, FakeCodec.encode(i, 256 + u16(i, "len") % 1024),
        w, h, d, s"fake-$modality")
    }
  }

  /** Feature extraction: iterator-to-iterator mapPartitions over binary
    * payloads (batch shape = one partition; constant memory). */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val body = FakeCodec.decode(m.payload) // STUB decode boundary
        var sum = 0L
        val hist = new Array[Int](16)
        var i = 0
        while (i < body.length) {
          sum += (body(i) & 0xff)
          hist((body(i) & 0xff) >> 4) += 1
          i += 1
        }
        val n = body.length.toDouble
        var ent = 0.0
        hist.foreach { c =>
          if (c > 0) { val p = c / n; ent -= p * math.log(p) }
        }
        MediaFeatures(m.media_id, m.modality, m.width, m.height,
          m.duration_ms, body.length, sum / n,
          math.round(ent * 10000).toDouble / 10000)
      }
    }
  }
}
