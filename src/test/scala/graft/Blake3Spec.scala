package graft

import graft.core.Digests
import org.scalatest.funsuite.AnyFunSuite

/** BLAKE3 default-mode vectors + structural properties, through the
  * digest engine (`Digests.compute("blake3", …)`).
  *
  * The digests below are published BLAKE3 test vectors: the empty input,
  * "abc", and the official 1024-byte input (byte i = i mod 251). The
  * empty vector pins IV, flag and counter handling; "abc" is a nonzero
  * single-block message, so it additionally pins the inter-round message
  * permutation; the 1024-byte input is one full chunk of 16 blocks. The
  * remaining structure (chunk chaining, tree shape) is exercised by the
  * boundary sweep below.
  */
class Blake3Spec extends AnyFunSuite {

  private def b3(data: Array[Byte]) =
    Digests.hexEncode(Digests.compute("blake3", data).get)

  private def pattern(n: Int) = Array.tabulate[Byte](n)(i => (i % 251).toByte)

  test("published vector: empty input") {
    assert(b3(Array.emptyByteArray) ===
      "af1349b9f5f9a1a6a0404dea36dcc9499bcb25c9adc112b7cc9a93cae41f3262")
  }

  test("published vector: abc") {
    assert(b3("abc".getBytes("UTF-8")) ===
      "6437b3ac38465133ffb63b75273a8db548c558465d79db03fd359c6cd5bd9d85")
  }

  test("published vector: 1024 bytes of i mod 251") {
    assert(b3(pattern(1024)) ===
      "42214739f095a406f3fc83deb889744ac00df831c10daa55189b5d121c855af7")
  }

  test("chunk/block boundary sweep is deterministic and collision-free") {
    // lengths straddling every structural boundary: block (64), chunk
    // (1024), the 2/3/4/5-chunk tree shapes, and off-by-ones
    val lens = Seq(1, 63, 64, 65, 1023, 1024, 1025, 2047, 2048, 2049,
      3072, 4095, 4096, 4097, 5120, 8192)
    val outs = lens.map(n => b3(pattern(n)))
    assert(outs.distinct.size === outs.size)
    // stable across calls (no shared mutable state)
    assert(outs === lens.map(n => b3(pattern(n))))
  }

  test("single-bit flips change the digest (all structural positions)") {
    val base = pattern(4097)
    val h0 = b3(base)
    for (pos <- Seq(0, 63, 64, 1023, 1024, 2048, 4096)) {
      val mut = base.clone()
      mut(pos) = (mut(pos) ^ 1).toByte
      assert(b3(mut) !== h0, s"flip at $pos")
    }
  }

  test("digest engine integration: compute/format/parse round-trip") {
    val d = Digests.computeText("blake3", "abc".getBytes("UTF-8"))
    assert(d === Some(
      "blake3:6437b3ac38465133ffb63b75273a8db548c558465d79db03fd359c6cd5bd9d85"))
    val parsed = Digests.parseDigest(d.get)
    assert(parsed.map(_._1) === Some("blake3"))
    assert(parsed.map(p => Digests.hexEncode(p._2)) ===
      Some("6437b3ac38465133ffb63b75273a8db548c558465d79db03fd359c6cd5bd9d85"))
  }
}
