package graft.operators

import java.nio.file.{Files, Path, Paths}

/** Staging for per-(JVM, sfDir) derived artifacts — the ensureDayGrid /
  * probePairs convention: a small parquet materialization built from the
  * run's inputs inside the same JVM and read back by several queries.
  * Nothing here persists across runs: dirs are freshly created per JVM and
  * deleted at JVM exit.
  *
  * Root selection: `GRAFT_ARTIFACT_DIR` if set, else `java.io.tmpdir`.
  * The tmpdir default is only correct in LOCAL mode, where the driver and
  * the executors share one filesystem. On a real cluster every executor
  * must be able to read these parquet files, so GRAFT_ARTIFACT_DIR must
  * point at a shared staging path (HDFS/NFS/object-store mount) — the
  * same requirement any `spark.sql.warehouse.dir` has.
  *
  * Lifecycle: each dir is registered with a JVM shutdown hook that deletes
  * it best-effort — Bench/Verify/test JVMs previously leaked every
  * artifact family per run (graft_probepairs, graft_pairgraph, …).
  * Streaming staging uses the same reaped root: every StreamShape feed,
  * checkpoint and sink dir comes from [[newDir]] (through [[Drain]]), as
  * do the e05/e06/e19/k06/sim42 and Bench latency scratch dirs, so
  * `GRAFT_ARTIFACT_DIR` places all of them. No main or test source calls
  * `createTempDirectory` outside this object (DrainSpec lints it).
  * Failure: [[build]] deletes a partially-written dir and rethrows, so a
  * memo's computeIfAbsent stays unpopulated and the NEXT reader retries a
  * clean build instead of scanning half a parquet directory.
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

  private[operators] def deleteRecursively(dir: Path): Unit = try {
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

  /** Run `write` against a fresh staging dir; on failure delete the
    * partial dir and rethrow (the caller's memo stays unpopulated and the
    * next reader starts clean). Returns the dir path on success.
    */
  def build(prefix: String)(write: String => Unit): String = {
    val dir = newDir(prefix)
    try { write(dir); dir }
    catch {
      case e: Throwable =>
        val p = Paths.get(dir)
        deleteRecursively(p)
        dirs.remove(p)
        throw e
    }
  }
}
