package graft.core

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Locale
import java.util.zip.{CRC32, CRC32C}
import org.apache.commons.codec.digest.Blake3

/** Digest engine (reference src/digest.rs): text parse/format with the
  * reference's base32/hex auto-detect, label compatibility aliases, and
  * canonical output forms (sha1 → BASE32 upper; others → hex lower,
  * digest.rs:130-147).
  *
  * Computation covers the JVM-native algorithms (crc32, crc32c, md5,
  * sha1, sha256, sha512, sha3-256, sha3-512), BLAKE3 from commons-codec
  * (on Spark's classpath; the reference likewise takes every digest
  * from a library crate, digest.rs:191-250), plus pure-Scala RFC 7693
  * BLAKE2b-512/BLAKE2s-256 ([[Blake2]]) and from-spec XXH3-64 ([[Xxh3]],
  * validated against eleven published sanity vectors covering every
  * length-class code path — see Xxh3Spec), which no unshaded library on
  * the classpath provides — all 12 of the reference's algorithms.
  * xxhash64 remains the engine's seen-key hash (Spark built-in,
  * codegen'd; the north rule keys the URL-seen set on xxHash64).
  */
object Digests {

  /** algorithm → digest byte length (digest.rs:99-116 output_len). */
  val OutputLen: Map[String, Int] = Map(
    "crc32" -> 4, "crc32c" -> 4, "xxh3" -> 8, "md5" -> 16, "sha1" -> 20,
    "sha256" -> 32, "sha512" -> 64, "sha3-256" -> 32, "sha3-512" -> 64,
    "blake2s" -> 32, "blake2b" -> 64, "blake3" -> 32)

  val Computable: Set[String] = Set(
    "crc32", "crc32c", "md5", "sha1", "sha256", "sha512", "sha3-256", "sha3-512",
    "blake2s", "blake2b", "blake3", "xxh3")

  /** Compatibility labels (digest.rs:149-157). */
  def normalizeLabel(label: String): String = label.toLowerCase(Locale.ROOT) match {
    case "sha-1"   => "sha1"
    case "sha-224" => "sha224"
    case "sha-256" => "sha256"
    case "sha-384" => "sha384"
    case "sha-512" => "sha512"
    case other     => other
  }

  private val B32Alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"

  /** RFC 4648 base32 encode, no padding needed for whole-quantum input;
    * pads with '=' otherwise (data-encoding BASE32 behavior).
    */
  def base32Encode(data: Array[Byte]): String = {
    val sb = new StringBuilder
    var buffer = 0L
    var bits = 0
    data.foreach { b =>
      buffer = (buffer << 8) | (b & 0xff)
      bits += 8
      while (bits >= 5) {
        sb.append(B32Alphabet(((buffer >> (bits - 5)) & 31).toInt))
        bits -= 5
      }
    }
    if (bits > 0) sb.append(B32Alphabet(((buffer << (5 - bits)) & 31).toInt))
    while (sb.length % 8 != 0) sb.append('=')
    sb.toString
  }

  /** Base32 decode (no padding expected; case handled by caller). */
  def base32Decode(s: String): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream()
    var buffer = 0L
    var bits = 0
    for (c <- s) {
      val v = B32Alphabet.indexOf(c)
      if (v < 0) return None
      buffer = (buffer << 5) | v
      bits += 5
      if (bits >= 8) {
        out.write(((buffer >> (bits - 8)) & 0xff).toInt)
        bits -= 8
      }
    }
    Some(out.toByteArray)
  }

  def hexEncode(data: Array[Byte]): String =
    data.map(b => f"${b & 0xff}%02x").mkString

  def hexDecode(s: String): Option[Array[Byte]] =
    if (s.length % 2 != 0 || !s.forall(c => Character.digit(c, 16) >= 0)) None
    else Some(s.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray)

  /** base32 decoded length for an unpadded input length; None if the
    * length is not a valid base32 remainder (mirrors
    * data-encoding decode_len failure → auto-detect falls to hex).
    */
  private def b32DecodedLen(n: Int): Option[Int] = (n % 8) match {
    case 0 | 2 | 4 | 5 | 7 => Some(n * 5 / 8)
    case _                 => None
  }

  /** Digest text parse with auto-detect (digest.rs:118-128, 160-189):
    * strip trailing '='; if both encodings would yield the expected
    * length, explicit padding forces base32, else hex; single-fit wins.
    * Returns (algorithm, bytes) or None.
    */
  def parseDigest(s: String): Option[(String, Array[Byte])] = {
    val (label, encoded) = s.indexOf(':') match {
      case -1 => (s, "")
      case i  => (s.substring(0, i), s.substring(i + 1))
    }
    val algo = normalizeLabel(label)
    OutputLen.get(algo).flatMap { expected =>
      val nopad = encoded.reverse.dropWhile(_ == '=').reverse
      val b32Len = b32DecodedLen(nopad.length)
      val hexLen = if (nopad.length % 2 == 0) Some(nopad.length / 2) else None
      val decoded =
        if (b32Len.contains(expected) && hexLen.contains(expected)) {
          if (encoded.endsWith("=")) base32Decode(nopad.toUpperCase(Locale.ROOT))
          else hexDecode(encoded.toLowerCase(Locale.ROOT))
        } else if (b32Len.contains(expected)) base32Decode(nopad.toUpperCase(Locale.ROOT))
        else hexDecode(encoded.toLowerCase(Locale.ROOT))
      decoded.filter(_.length == expected).map(v => (algo, v))
    }
  }

  /** Canonical text form (digest.rs:130-147): sha1 → base32 upper,
    * others → hex lower.
    */
  def formatDigest(algo: String, value: Array[Byte]): String =
    if (algo == "sha1") s"sha1:${base32Encode(value)}"
    else s"$algo:${hexEncode(value)}"

  /** CRC32C of a whole payload as an unsigned 32-bit value: the one
    * CRC32C in the engine, behind [[compute]] and the `crc32c` kernel
    * (JDK-intrinsified SSE4.2/ARMv8 CRC instructions).
    */
  def crc32c(data: Array[Byte]): Long = {
    val c = new CRC32C(); c.update(data); c.getValue
  }

  /** Compute a digest over a whole payload (A1 per-cell form). */
  def compute(algo: String, data: Array[Byte]): Option[Array[Byte]] = algo match {
    case "crc32" =>
      val c = new CRC32(); c.update(data)
      Some(java.nio.ByteBuffer.allocate(4).putInt(c.getValue.toInt).array())
    case "crc32c" =>
      Some(java.nio.ByteBuffer.allocate(4).putInt(crc32c(data).toInt).array())
    case "md5"      => Some(MessageDigest.getInstance("MD5").digest(data))
    case "sha1"     => Some(MessageDigest.getInstance("SHA-1").digest(data))
    case "sha256"   => Some(MessageDigest.getInstance("SHA-256").digest(data))
    case "sha512"   => Some(MessageDigest.getInstance("SHA-512").digest(data))
    case "sha3-256" => Some(MessageDigest.getInstance("SHA3-256").digest(data))
    case "sha3-512" => Some(MessageDigest.getInstance("SHA3-512").digest(data))
    case "blake2b"  => Some(Blake2.blake2b512(data))
    case "blake2s"  => Some(Blake2.blake2s256(data))
    case "blake3"   => Some(Blake3.hash(data))
    case "xxh3"     => Some(Xxh3.digest(data))
    case _          => None
  }

  def computeText(algo: String, data: Array[Byte]): Option[String] =
    compute(algo, data).map(formatDigest(algo, _))
}
