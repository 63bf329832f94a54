package graft.operators

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions.{col, lit, raise_error, when}

import graft.SparkSpec

/** The [[Artifacts]] memo contract: one build per key under concurrent
  * callers, nested builds, keys that do not wait on each other, failed
  * builds that leave no dir and are retried, and no operator module with a
  * memo map of its own.
  */
class ArtifactsSpec extends SparkSpec {

  /** A family no other test or catalog query uses. */
  private def family(): String = s"artifactsspec_${java.util.UUID.randomUUID.toString.take(8)}"

  // "Aa" and "BB" share a String hash code, so (family, "Aa") and
  // (family, "BB") land in one bin of any hash map: a memo that built
  // under the map's bin lock would throw "Recursive update" on a nested
  // build and make one key's build hold up the other.
  private val (keyA, keyB) = ("Aa", "BB")
  assert(keyA.hashCode == keyB.hashCode)

  test("8 threads asking for one key run its build once and share its value") {
    val fam = family()
    val builds = new AtomicInteger(0)
    val ready = new CountDownLatch(8)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val got = try Await.result(Future.sequence((0 until 8).map(i => Future {
      ready.countDown()
      ready.await() // all eight ask at once
      Artifacts.memo(fam, "d") {
        builds.incrementAndGet()
        Thread.sleep(200) // the other callers arrive while it builds
        s"built by $i"
      }
    })), 60.seconds).toSet
    finally pool.shutdownNow()
    assert(builds.get === 1)
    assert(got.size === 1)
    assert(Artifacts.memo[String](fam, "d")(fail("a built key must not build again")) === got.head)
  }

  test("a build that asks the memo for another key completes") {
    val fam = family()
    val outer = Artifacts.memo(fam, keyA) {
      Artifacts.memo(fam, keyB)(20) + 1
    }
    assert(outer === 21)
    assert(Artifacts.memo[Int](fam, keyB)(fail("keyB was built inside keyA's build")) === 20)
  }

  test("a build blocked on a latch holds up only callers of its own key") {
    val fam = family()
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val a = Future(Artifacts.memo(fam, keyA) {
        started.countDown()
        assert(release.await(60, TimeUnit.SECONDS))
        "a"
      })
      assert(started.await(30, TimeUnit.SECONDS), "keyA's build never started")
      val b = Future(Artifacts.memo(fam, keyB)("b"))
      assert(Await.result(b, 20.seconds) === "b")
      assert(!a.isCompleted)
      release.countDown()
      assert(Await.result(a, 30.seconds) === "a")
    } finally {
      release.countDown()
      pool.shutdownNow()
    }
  }

  test("a failed shared build leaves no dir, and the next call builds afresh") {
    import spark.implicits._
    val fam = family()
    var staged: String = null
    val e = intercept[IllegalStateException] {
      Artifacts.shared(fam, sfDir) { dir =>
        staged = dir
        Seq(1, 2).toDF("x").write.mode("overwrite").parquet(s"$dir/part")
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    assert(staged != null && !Files.exists(Paths.get(staged)), s"partial dir left behind: $staged")
    val dir = Artifacts.shared(fam, sfDir)(Seq(3).toDF("x").write.mode("overwrite").parquet(_))
    assert(dir != staged)
    assert(Catalog.parquet(spark, dir).as[Int].collect().toSeq === Seq(3))
    assert(Artifacts.shared(fam, sfDir)(_ => fail("a built dir must not build again")) === dir)
  }

  test("a warehouse whose table write fails leaves no dir, and the next call builds it") {
    val fam = family()
    var staged: String = null
    def write(failAt: Long)(db: String, loc: String): Unit = {
      staged = loc
      spark.range(0, 100, 1, 4)
        .withColumn("v", when(col("id") === failAt, raise_error(lit("table write failed")))
          .otherwise(col("id")))
        .write.mode("overwrite").bucketBy(2, "id").sortBy("id")
        .option("path", s"$loc/t").saveAsTable(s"$db.t")
    }
    val e = intercept[Exception](Artifacts.warehouse(spark, fam, sfDir)(write(failAt = 75)))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("table write failed")), e.toString)
    assert(staged != null && !Files.exists(Paths.get(staged)), s"partial dir left behind: $staged")
    val failed = staged
    val db = Artifacts.warehouse(spark, fam, sfDir)(write(failAt = -1))
    assert(db === s"${fam}_${Catalog.pathTag(sfDir)}")
    assert(staged != failed && Files.isDirectory(Paths.get(s"$staged/t")))
    assert(spark.table(s"$db.t").count() === 100)
    assert(Artifacts.warehouse(spark, fam, sfDir)((_, _) => fail("built twice")) === db)
  }

  test("no operator module outside Artifacts and Catalog keeps a map memo") {
    // Catalog's schema map is keyed by path, mtime and confs, not a build
    val own = Set("Artifacts.scala", "Catalog.scala")
    val root = Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(root), s"run from the repo root: $root not found")
    val walk = Files.walk(root)
    val offenders = try walk.toArray.map(_.asInstanceOf[Path])
      .filter(p => p.toString.endsWith(".scala") && !own(p.getFileName.toString))
      .filter { p =>
        val src = Files.readString(p)
        src.contains("ConcurrentHashMap") || src.contains("computeIfAbsent")
      }.map(_.toString).toSeq
    finally walk.close()
    assert(offenders.isEmpty,
      s"build shared artifacts and trained values with Artifacts.memo/shared: $offenders")
  }
}
