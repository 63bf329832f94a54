package graft.operators

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.SparkSpec

/** [[Catalog.parquet]], the read path of every immutable parquet input:
  * a repeated read launches no schema-inference job, the memoized schema
  * and scan are the ones a plain `read.parquet` plans, a flipped
  * inference conf or a rewritten path re-infers, and the helper is the
  * only place that reads a fixture table or a memoized artifact dir.
  */
class CatalogParquetSpec extends SparkSpec {

  private def fixtureTables: Seq[String] = {
    val st = Files.list(Paths.get(sfDir))
    try st.toArray.map(_.toString).filter(_.endsWith(".parquet"))
      .map(p => Paths.get(p).getFileName.toString.stripSuffix(".parquet")).toSeq.sorted
    finally st.close()
  }

  /** Spark jobs `f` launches on this thread, counted with a listener: a
    * marker job launched after `f` flushes the in-order listener bus.
    */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"catalogparquetspec-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger(0)
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "marker") marker.countDown()
          else jobs.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "read")
      f
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString
      .replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id=")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  private def withConf[T](key: String, value: String)(f: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Write `rows` to a new single-file parquet table `file` of parquet
    * `schema`; each row is the (field, value) pairs of one record.
    */
  private def writeParquet(file: String, schema: String, rows: Seq[Seq[(String, Any)]]): Unit = {
    val ms = org.apache.parquet.schema.MessageTypeParser.parseMessageType(schema)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file))
      .withConf(spark.sparkContext.hadoopConfiguration).withType(ms).build()
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(ms)
    try rows.foreach { r =>
      val g = groups.newGroup()
      r.foreach {
        case (k, v: Long) => g.append(k, v)
        case (k, v: Double) => g.append(k, v)
        case (k, v: String) => g.append(k, v)
        case (k, v) => throw new IllegalArgumentException(s"$k: $v")
      }
      w.write(g)
    } finally w.close()
  }

  test("a repeated Catalog.t of the same table launches no Spark job") {
    // a private copy, so no earlier read in this JVM has inferred it yet
    val dir = Artifacts.newDir("catalogparquetspec")
    Files.copy(Paths.get(s"$sfDir/orders.parquet"), Paths.get(s"$dir/orders.parquet"))
    val first = jobsOf(Catalog.t(spark, dir, "orders"))
    assert(first >= 1, "the first read should run Spark's schema-inference job")
    assert(jobsOf(Catalog.t(spark, dir, "orders")) === 0)
    assert(jobsOf(Catalog.t(spark, dir, "orders").where("o_orderkey > 0")) === 0)
  }

  test("every fixture table's memoized schema and scan are a plain read's") {
    val tables = fixtureTables
    assert(tables.contains("events") && tables.contains("documents"), s"fixtures: $tables")
    tables.foreach { name =>
      val path = s"$sfDir/$name.parquet"
      Catalog.parquet(spark, path)
      val memo = Catalog.parquet(spark, path) // the memoized schema
      val plain = spark.read.parquet(path)
      assert(memo.schema === plain.schema, name)
      assert(plan(memo) === plan(plain), name)
      val viaT = Catalog.t(spark, sfDir, name)
      val plainT = if (name == "events") Catalog.normalizeEventTs(plain) else plain
      assert(viaT.schema === plainT.schema, name)
      assert(plan(viaT) === plan(plainT), name)
    }
  }

  test("flipping a schema-inference conf re-infers instead of reusing the old schema") {
    // a TIMESTAMP(NANOS) column, the events encoding of older fixtures:
    // nanosAsLong reads it as a long, without it Spark rejects the type
    val dir = Artifacts.newDir("catalogparquetspec")
    val file = s"$dir/nanos.parquet"
    writeParquet(file, "message m { required int64 ts (TIMESTAMP(NANOS,true)); }",
      Seq(Seq("ts" -> 1700000000123456789L)))
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    withConf(nanos, "true") {
      assert(Catalog.parquet(spark, file).schema("ts").dataType === LongType)
      assert(Catalog.parquet(spark, file).head().getLong(0) === 1700000000123456789L)
    }
    withConf(nanos, "false") {
      val plain = intercept[Exception](spark.read.parquet(file).schema)
      val memo = intercept[Exception](Catalog.parquet(spark, file).schema)
      assert(memo.getMessage === plain.getMessage)
    }
    // the fixture's TIMESTAMP(MICROS, isAdjustedToUTC=false) ts column
    val events = s"$sfDir/events.parquet"
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    Seq("true" -> TimestampNTZType, "false" -> TimestampType, "true" -> TimestampNTZType)
      .foreach { case (v, want) =>
        withConf(ntz, v)(assert(Catalog.parquet(spark, events).schema("ts").dataType === want, v))
      }
  }

  test("x24 reads a TIMESTAMP(NANOS) events table in a session that never set nanosAsLong") {
    // the events encoding of older fixtures: Q.build installs the session,
    // which sets the conf before Catalog.t infers the schema
    val dir = Artifacts.newDir("catalogparquetspec")
    val events = (0 until 16).map { i =>
      (i.toLong, if (i % 4 < 2) "view" else "purchase", ((i * 7) % 11).toDouble)
    }
    writeParquet(s"$dir/events.parquet",
      """message m { required int64 event_id; required binary event_type (UTF8);
        |required int64 ts (TIMESTAMP(NANOS,true)); required double value; }""".stripMargin,
      events.map { case (id, et, v) =>
        Seq("event_id" -> id, "event_type" -> et, "ts" -> (1700000000000000000L + id * 1000L),
          "value" -> v)
      })
    val fresh = spark.newSession()
    assert(fresh.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").forall(_ != "true"))
    val got = Catalog.byName("x24_stream_topk").build(fresh, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val want = events.groupBy(_._2).toSeq.flatMap { case (et, es) =>
      es.sortBy { case (id, _, v) => (-v, id) }.take(5).zipWithIndex
        .map { case ((id, _, v), i) => (et, i + 1, id, v) }
    }.sorted
    assert(got === want)
  }

  test("an artifact read returns a plain read's rows, and a rewritten path re-infers") {
    import spark.implicits._
    val bigrams = TextOps.bigramsShared(spark, sfDir)
    val dir = Paths.get(bigrams.inputFiles.head.stripPrefix("file:")).getParent.toString
    val again = TextOps.bigramsShared(spark, sfDir)
    assert(jobsOf(TextOps.bigramsShared(spark, sfDir)) === 0)
    assert(again.schema === spark.read.parquet(dir).schema)
    assert(rows(again) === rows(spark.read.parquet(dir)))
    // a partitioned dir: the partition column comes back the same way
    val parts = Artifacts.build("catalogparquetspec") { d =>
      Seq((1L, "a", 0), (2L, "b", 1), (3L, "c", 1)).toDF("id", "s", "cell")
        .write.mode("overwrite").partitionBy("cell").parquet(d)
    }
    Catalog.parquet(spark, parts)
    assert(Catalog.parquet(spark, parts).schema === spark.read.parquet(parts).schema)
    assert(rows(Catalog.parquet(spark, parts)) === rows(spark.read.parquet(parts)))
    // the same path rewritten with another schema is inferred afresh
    Seq(("x", 1.5)).toDF("name", "score").write.mode("overwrite").parquet(parts)
    assert(Catalog.parquet(spark, parts).columns.toSeq === Seq("name", "score"))
    assert(rows(Catalog.parquet(spark, parts)) === Seq("x|1.5"))
  }

  test("no main source reads a fixture table or a memoized artifact outside Catalog") {
    // a plain read of either brings the per-read schema-inference job back
    val fixtureRead = raw"""read\.parquet\(s"\$$[^"]*/\w+\.parquet"\)""".r
    // an Artifacts.shared dir, or an ensure* one (ensureDayGrid, …), read
    // directly or through an interpolated subdir
    val memoRead = raw"""read\.parquet\((?:s"\$$\{)?(?:Artifacts\.shared|ensure\w+)\(""".r
    Seq("""s.read.parquet(Artifacts.shared("graft_x", d) { dir =>""",
        """s.read.parquet(ensureProbePairs(s, d))""",
        """s.read.parquet(s"${ensureDayGrid(s, d)}/idx")""")
      .foreach(shape => assert(memoRead.findFirstIn(shape).isDefined, shape))
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root not found")
    val walk = Files.walk(root)
    val offenders = try walk.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Catalog.scala")
      .flatMap { p =>
        val src = Files.readString(p)
        (fixtureRead.findAllIn(src) ++ memoRead.findAllIn(src)).map(m => s"$p: $m")
      }.toSeq
    finally walk.close()
    assert(offenders.isEmpty, s"read these through Catalog.parquet: $offenders")
  }
}
