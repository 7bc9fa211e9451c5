package graft.linkage.crypto

/** Crypto-grade CLK Bloom encoding in the SHAPE of anonlink/clkhash's
  * "blakeHash" strategy — NOT wire-compatible with live anonlink agents.
  *
  * Non-interop caveat first: the HKDF `info` string, the key-slot
  * layout, and the salt scheme below are this engine's own choices, and
  * the power-of-two `l` requirement rejects some configs clkhash would
  * accept — CLKs produced here will NOT byte-match a clkhash release,
  * and cannot be mixed with clkhash-produced CLKs in one linkage. Treat
  * this as a self-contained crypto CLK whose both sides must be encoded
  * by THIS engine. (Byte-parity can't even be certified in this offline
  * sandbox — no clkhash to diff against; if interop is ever needed, the
  * `info` string and key layout are the declared swap points at
  * [[fieldKeys]].)
  *
  * What it mirrors — the strategy the reference's garble stage shells
  * out for (garble.py:128–145; example-schema/name-sex-dob-addr.json):
  *
  *  - one independent 64-byte key per PII field, derived from the site
  *    secret with HKDF-SHA256 (clkhash key_derivation.generate_key_lists),
  *  - each field value tokenized into whitespace-padded bigrams,
  *  - each bigram hashed with KEYED blake2b-512, salt = str(i) for the
  *    i-th 64-byte chunk when k > 32 indices are needed
  *    (clkhash bloomfilter.blake_encode_ngrams),
  *  - the 64-byte digest read as 32 little-endian uint16s; the first k,
  *    each mod l, are the Bloom indices to set.
  *
  * The PRIMITIVES are exact (RFC 7693 / RFC 5869, vector-tested in
  * CryptoSpec); the COMPOSITION follows clkhash's published structure.
  * It is the engine's one CLK encoder: Garble.clks and
  * Garble.householdClks (and so GarbleMain and LinkageMain --secret)
  * encode through it.
  */
object ClkCrypto {

  val DigestLen = 64 // blake2b-512 → 32 uint16 index candidates per salt

  /** Per-field 64-byte keys from the hex site secret (HKDF-SHA256). */
  def fieldKeys(secretHex: String, nFields: Int): Array[Array[Byte]] = {
    val ikm = secretHex.getBytes("UTF-8")
    val okm = Hkdf.derive(ikm, Array.emptyByteArray,
      "graft-clk-field-keys".getBytes("UTF-8"), 64 * nFields)
    Array.tabulate(nFields)(i => java.util.Arrays.copyOfRange(okm, 64 * i,
      64 * (i + 1)))
  }

  /** Bloom indices of one n-gram under one field key: ceil(k/32) keyed
    * blake2b digests (salt "0","1",…), each unpacked as 32 LE uint16. */
  private def gramIndices(gram: Array[Byte], key: Array[Byte], k: Int,
                          l: Int, out: Array[Int]): Unit = {
    val numMacs = (k + 31) / 32
    var j = 0
    var mac = 0
    while (mac < numMacs && j < k) {
      val d = Blake2b.hash(gram, DigestLen, key,
        salt = String.valueOf(mac).getBytes("UTF-8"))
      var s = 0
      while (s < 32 && j < k) {
        val u16 = (d(2 * s) & 0xff) | ((d(2 * s + 1) & 0xff) << 8)
        out(j) = u16 % l
        s += 1; j += 1
      }
      mac += 1
    }
  }

  /** CLK of one record: l-bit Bloom filter, k indices per bigram, one
    * key per field. Empty/null fields contribute nothing. */
  def encode(fields: Array[String], keys: Array[Array[Byte]],
             l: Int = 4096, k: Int = 30): Array[Byte] = {
    require(keys.length >= fields.length, "one key per field")
    require(Integer.bitCount(l) == 1, s"l must be a power of two: $l")
    val bits = new Array[Byte](l / 8)
    val idx = new Array[Int](k)
    var f = 0
    while (f < fields.length) {
      val s = fields(f)
      if (s != null && s.nonEmpty) {
        val padded = " " + s + " "
        var i = 0
        while (i < padded.length - 1) {
          val gram = padded.substring(i, i + 2).getBytes("UTF-8")
          gramIndices(gram, keys(f), k, l, idx)
          var j = 0
          while (j < k) {
            val p = idx(j)
            bits(p >> 3) = (bits(p >> 3) | (1 << (p & 7))).toByte
            j += 1
          }
          i += 1
        }
      }
      f += 1
    }
    bits
  }
}
