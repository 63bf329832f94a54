package graft.operators

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.{JobExecutionStatus, SparkContext}
import org.apache.spark.sql.SparkSession

/** Staging and memoization for per-(JVM, sfDir) derived artifacts: a small
  * parquet dir, warehouse database or trained value built from the run's
  * inputs inside the same JVM and served to several queries.
  *
  * Memo contract ([[memo]], [[shared]], [[warehouse]]): a `(family, key)`
  * builds once per JVM, then serves with one map lookup. The build runs
  * under its key's own cell lock, not the map's, so callers of one key wait
  * for its single build while other keys build and serve; a build may call
  * [[memo]] for another key (LSH clusters → pairs, IVF index → trained
  * centroids, link edges → node count); and a build that throws leaves its
  * key unbuilt for the next call to retry, after [[build]] has deleted its
  * partial dir. No operator module keeps a memo map of its own
  * (ArtifactsSpec lints them).
  *
  * Root selection: `GRAFT_ARTIFACT_DIR` if set, else `java.io.tmpdir`.
  * The tmpdir default is only correct in LOCAL mode, where the driver and
  * the executors share one filesystem. On a real cluster every executor
  * must be able to read these parquet files, so GRAFT_ARTIFACT_DIR must
  * point at a shared staging path (HDFS/NFS/object-store mount) — the
  * same requirement any `spark.sql.warehouse.dir` has.
  *
  * Lifecycle: nothing persists across runs; a JVM shutdown hook deletes
  * every dir best-effort. Every StreamShape feed, checkpoint and sink dir
  * comes from [[newDir]] (through [[Drain]]), as do the e05/e06/e19/k06/
  * sim42 and Bench latency scratch dirs, so `GRAFT_ARTIFACT_DIR` places all
  * of them. No main or test source calls `createTempDirectory` outside this
  * object (DrainSpec lints it).
  */
object Artifacts {

  private val root: Option[Path] = sys.env.get("GRAFT_ARTIFACT_DIR")
    .map(_.trim).filter(_.nonEmpty).map { p =>
      val path = Paths.get(p)
      Files.createDirectories(path)
      path
    }

  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    dirs.forEach(p => deleteRecursively(p))
  }, "graft-artifact-reaper"))

  private[graft] def deleteRecursively(dir: Path): Unit = try {
    val walk = Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  } catch { case _: Throwable => () }

  /** A fresh, shutdown-reaped staging directory under the artifact root. */
  def newDir(prefix: String): String = {
    val dir = root match {
      case Some(r) => Files.createTempDirectory(r, prefix)
      case None => Files.createTempDirectory(prefix)
    }
    dirs.add(dir)
    dir.toString
  }

  /** Run `write` against a fresh staging dir and return it. On failure,
    * wait for the cancelled tasks of the build's Spark jobs, which outlive
    * the failure and can still write, then delete the dir and rethrow.
    */
  def build(prefix: String)(write: String => Unit): String = {
    val dir = newDir(prefix)
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val tag = s"graft-build-${Paths.get(dir).getFileName}"
    sc.foreach(_.addJobTag(tag))
    try { write(dir); dir }
    catch {
      case e: Throwable =>
        sc.foreach(awaitTasks(_, tag))
        deleteRecursively(Paths.get(dir))
        throw e
    } finally sc.foreach(_.removeJobTag(tag))
  }

  /** Wait (at most a minute) until no task of a `tag` job runs. The status
    * store is current once it shows a later marker job done.
    */
  private def awaitTasks(sc: SparkContext, tag: String): Unit = try {
    val st = sc.statusTracker
    val marker = s"$tag-marker"
    sc.addJobTag(marker)
    try sc.parallelize(Seq(0), 1).count() finally sc.removeJobTag(marker)
    def jobs(t: String) = st.getJobIdsForTag(t).flatMap(st.getJobInfo(_))
    def settled = jobs(marker).exists(_.status == JobExecutionStatus.SUCCEEDED) &&
      jobs(tag).forall(_.stageIds.forall(st.getStageInfo(_).forall(_.numActiveTasks == 0)))
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!settled && System.nanoTime() < deadline) Thread.sleep(10)
  } catch { case _: Throwable => () }

  /** One key's value, set by the first caller whose build succeeds. */
  private final class Cell {
    @volatile private var built: Option[Any] = None
    def get(build: => Any): Any = built.getOrElse(synchronized {
      if (built.isEmpty) built = Some(build)
      built.get
    })
  }

  private val memos = new java.util.concurrent.ConcurrentHashMap[(String, Any), Cell]()

  /** `build`'s value for `(family, key)`, built once per JVM (see the memo
    * contract above). A family always holds one value type.
    */
  def memo[V](family: String, key: Any)(build: => V): V =
    memos.computeIfAbsent((family, key), _ => new Cell).get(build).asInstanceOf[V]

  /** The [[build]] dir of `family` for sfDir `d`, written once per JVM by
    * `write`. Read it back with [[Catalog.parquet]].
    */
  def shared(family: String, d: String)(write: String => Unit): String =
    memo(family, d)(build(family)(write))

  /** The warehouse database `<family>_<pathTag(d)>`, created once per JVM
    * at a [[build]] dir; `write(db, loc)` saves its tables under `loc`.
    */
  def warehouse(s: SparkSession, family: String, d: String)(
      write: (String, String) => Unit): String =
    memo(family, d) {
      val db = s"${family}_${Catalog.pathTag(d)}"
      build(family) { loc =>
        s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
        write(db, loc)
      }
      db
    }
}
