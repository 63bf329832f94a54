package graft.verify

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check, Parameters}

/** Pins the driver-side pure-Scala signature math (PureSig — written from
  * the public xxHash spec, no Spark internals) bit-for-bit against the
  * engine kernels it oracles. A divergence in either implementation fails
  * here AND flags the corresponding queries in the correctness gate.
  */
class PureSigSpec extends SparkSpec {

  private val piece = Gen.oneOf(
    "the", "and", "données", "x", "zz9", "", " ", "  ", "\t", "\n", ".", "a-b",
    // regex-\s-token-internal but isWhitespace-true chars: both sides must
    // tokenize these identically (neither may split on them)
    "a\u001Cb", "c\u2028d",
    "0123456789abcdef0123456789abcdef") // >32 bytes exercises the stripe loop
  private val textGen = Gen.listOf(piece).map(_.mkString(" "))

  private def checked(p: Prop): Unit = {
    val res = check(Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  test("pure xxh64 matches Spark XXH64 on arbitrary strings and seeds") {
    // published test vector first: xxh64("", seed 0)
    assert(PureSig.xxh64(Array.empty[Byte], 0L) == 0xEF46DB3751D8E999L)
    checked(Prop.forAll(textGen, Gen.oneOf(0L, 42L, -1L, Long.MaxValue)) { (s, seed) =>
      val u = UTF8String.fromString(s)
      PureSig.xxh64(s, seed) ==
        XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), seed)
    })
  }

  test("pure shingles match the word_shingles kernel as sets") {
    checked(Prop.forAll(textGen) { s =>
      val kernel = graft.functions.TextKernels.wordShingles(UTF8String.fromString(s), 3)
      val kernelSet = (0 until kernel.numElements()).map(kernel.getUTF8String(_).toString).toSet
      PureSig.shingles(s, 3) == kernelSet
    })
  }

  test("pure minhash signature matches the minhash_signature kernel") {
    checked(Prop.forAll(textGen) { s =>
      val kernel = graft.functions.TextKernels
        .minhashSignature(UTF8String.fromString(s), 3, 64).toLongArray()
      PureSig.minhashSignature(s, 3, 64).toSeq == kernel.toSeq
    })
  }

  test("pure simhash matches the simhash64 kernel") {
    checked(Prop.forAll(textGen) { s =>
      PureSig.simhash64(s) ==
        graft.functions.TextKernels.simHash64(UTF8String.fromString(s), 42L)
    })
  }

  test("pure hyperplane bucket matches the hyperplane_bucket kernel") {
    val vecGen = Gen.nonEmptyListOf(Gen.chooseNum(-5.0f, 5.0f)).map(_.toArray)
    checked(Prop.forAll(vecGen) { v =>
      val kernel = graft.functions.VectorKernels.hyperplaneBucket(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(v.map(x => x: Any)), 60)
      PureSig.hyperplaneBucket(v, 60) == kernel
    })
  }

  test("signatures on real corpus docs match the kernels end-to-end") {
    import org.apache.spark.sql.functions._
    val rows = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"),
        graft.functions.GraftFunctions.minhash_signature(col("text"), 3, 64).as("sig"),
        graft.functions.GraftFunctions.simhash64(col("text")).as("sh"))
      .collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      assert(PureSig.minhashSignature(r.getString(1), 3, 64).toSeq == r.getSeq[Long](2),
        s"minhash mismatch doc ${r.getLong(0)}")
      assert(PureSig.simhash64(r.getString(1)) == r.getLong(3),
        s"simhash mismatch doc ${r.getLong(0)}")
    }
  }
}
