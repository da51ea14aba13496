package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BinaryCodecs._

/** Unit tests for the byte-level codec family (SURVEY §5 item 1: TBCD
  * vectors incl. f-filler, BCD swap, masks, endian readers) plus
  * round-trip properties (§5 item 2) via scalacheck generators.
  */
class CodecsSpec extends AnyFunSuite {

  test("F1 tbcd_decode: even digit count") {
    // digits 12345678 → bytes 0x21 0x43 0x65 0x87
    assert(tbcdDecode(Array(0x21, 0x43, 0x65, 0x87).map(_.toByte)) == "12345678")
  }

  test("F1 tbcd_decode: odd digit count with f filler") {
    // digits 123 → 0x21 0xf3
    assert(tbcdDecode(Array(0x21, 0xf3).map(_.toByte)) == "123")
  }

  test("F1 tbcd_decode: all-filler terminates immediately") {
    assert(tbcdDecode(Array(0xff.toByte)) == "")
  }

  test("F1 tbcd property: encode∘decode = id for digit strings") {
    val gen = org.scalacheck.Gen.choose(0L, Long.MaxValue)
    val prop = org.scalacheck.Prop.forAll(gen) { n =>
      val digits = n.toString
      val bytes = digits.grouped(2).map { pair =>
        val lo = pair(0) - '0'
        val hi = if (pair.length > 1) pair(1) - '0' else 0xf
        ((hi << 4) | lo).toByte
      }.toArray
      tbcdDecode(bytes) == digits
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed)
  }

  test("F2/F3 bcd_swap keeps hex nibbles, strips trailing filler") {
    // hexlify "2143f5" → per-byte nibble swap "12345f" → strip filler
    assert(bcdSwapDecode(Array(0x21, 0x43, 0xf5).map(_.toByte)) == "12345")
  }

  test("F4 hexString") {
    assert(hexString(Array(0x0a, 0xff, 0x00).map(_.toByte)) == "0aff00")
  }

  test("F5 mask24") {
    assert(mask24(0x81000123L) == 0x123L)
  }

  test("endian readers") {
    val b = Array(0x01, 0x02, 0x03, 0x04).map(_.toByte)
    assert(beLong(b, 0, 4) == 0x01020304L)
    assert(leLong(b, 0, 4) == 0x04030201L)
  }
}
