package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalacheck.{Arbitrary, Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** [[Json]] is the one string quoter behind the verify artifacts, the
  * HTTP replies and the webhook payloads: whatever it quotes must parse
  * back to the same string. */
class JsonSpec extends AnyFlatSpec with Matchers {

  private val mapper = new ObjectMapper()

  /** Strings weighted toward what needs escaping: control characters,
    * quotes, backslashes, non-BMP code points (surrogate pairs). */
  private val hostile: Gen[String] = Gen.listOf(Gen.frequency(
    3 -> Gen.choose(0, 0x1f),
    2 -> Gen.oneOf('"'.toInt, '\\'.toInt, '/'.toInt, 0x7f),
    3 -> Gen.choose(0x20, 0x7e),
    2 -> Gen.choose(0xa0, 0xd7ff),
    2 -> Gen.choose(0x10000, 0x10ffff)))
    .map(cps => new String(cps.toArray, 0, cps.length))

  "Json.quote" should "parse back unchanged with Jackson for any string" in {
    val prop = Prop.forAll(Gen.oneOf(hostile, Arbitrary.arbitrary[String])) { s =>
      val q = Json.quote(s)
      mapper.readTree(q).textValue() == s && !q.exists(c => c < ' ')
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(2000).withInitialSeed(Seed(17L)), prop)
    assert(res.passed, res.status)
  }

  it should "keep the two-character escapes for quote, backslash, newline, return and tab" in {
    Json.quote("a\"b\\c\nd\re\tf\u0001") shouldBe "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001\""
    Json.escape("plain") shouldBe "plain"
  }
}
