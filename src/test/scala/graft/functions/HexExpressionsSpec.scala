package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Golden + property tests for the hex-quantity decode (SURVEY S18).
  * Golden values mirror the reference's converter behavior
  * (reference: server/src/test/java/net/broscorp/web3/converter/ConverterTest.java —
  * quantities decode as unsigned big-endian hex with optional 0x prefix).
  */
class HexExpressionsSpec extends SparkSpec {

  private def decLong(s: String): Option[Long] =
    Option(HexDecode.toLong(if (s == null) null else UTF8String.fromString(s))).map(_.longValue)

  private def decBig(s: String): Option[BigInt] =
    Option(HexDecode.toDecimal(UTF8String.fromString(s))).map(d => BigInt(d.toJavaBigDecimal.toBigIntegerExact))

  test("golden decodes (reference quantity semantics)") {
    assert(decLong("0x0") === Some(0L))
    assert(decLong("0x1b4") === Some(436L))
    assert(decLong("0X1B4") === Some(436L)) // case-insensitive prefix + digits
    assert(decLong("ff") === Some(255L)) // bare hex accepted
    assert(decLong("0x7fffffffffffffff") === Some(Long.MaxValue))
    assert(decLong("0xde0b6b3a7640000") === Some(1000000000000000000L)) // 1 ETH in wei
  }

  test("null / malformed / overflow → null, never throw") {
    assert(decLong(null) === None)
    assert(decLong("") === None)
    assert(decLong("0x") === None)
    assert(decLong("0xzz") === None)
    assert(decLong("hello") === None)
    assert(decLong("0x8000000000000000") === None) // 2^63 overflows signed
    assert(decLong("0x10000000000000000") === None) // 17 digits
  }

  test("hex_to_decimal handles >64-bit quantities") {
    // a total-difficulty-class value (> Long.MaxValue)
    assert(decBig("0xc70d815d562d3cfa955") === Some(BigInt("58750003716598352816469")))
    assert(decBig("0x0") === Some(BigInt(0)))
    // 38 decimal digits is the Decimal(38,0) ceiling; beyond → null
    assert(decBig("f" * 40).isEmpty)
  }

  test("property: round-trips Long.toHexString for non-negative longs (seeded)") {
    val rnd = new scala.util.Random(42)
    (0 until 2000).foreach { _ =>
      val n = rnd.nextLong() & Long.MaxValue
      assert(decLong("0x" + java.lang.Long.toHexString(n)) === Some(n))
      assert(decBig(java.lang.Long.toHexString(n)) === Some(BigInt(n)))
    }
  }

  test("codegen path matches interpreted path on a DataFrame") {
    import spark.implicits._
    val df = Seq("0x1b4", "0x0", "ff", "0xzz", "", "0xde0b6b3a7640000")
      .toDF("h")
      .select(GraftFunctions.hex_to_long(col("h")).as("v"))
    assert(df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq ===
      Seq(Some(436L), Some(0L), Some(255L), None, None, Some(1000000000000000000L)))
  }

  test("hex_to_long survives whole-stage codegen over a real table") {
    val df = spark.range(1000).select(
      col("id"),
      GraftFunctions.hex_to_long(concat(lit("0x"), lower(hex(col("id"))))).as("decoded"))
    assert(df.where(col("id") =!= col("decoded")).count() === 0)
  }
}
