package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only phase profiler for the expensive lakehouse gates — breaks
  * a gate's wall time into its write/analyze/plan/read phases so the
  * optimization round targets the dominant phase instead of guessing.
  * Not library code.
  *
  * Usage: java ... graft.tools.GateProfile <sfDir> [gate]
  * gates: cbo_delta | cbo_iceberg | delta_transform | cdc_apply | ingest_neardup
  */
object GateProfile {
  // host-noise-independent phase evidence: Spark job/stage/task counts
  private val jobs = new java.util.concurrent.atomic.AtomicLong(0)
  private val stages = new java.util.concurrent.atomic.AtomicLong(0)
  private val tasks = new java.util.concurrent.atomic.AtomicLong(0)
  private[tools] class CountListener extends org.apache.spark.scheduler.SparkListener {
    override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageSubmitted(s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
      stages.incrementAndGet()
    override def onTaskStart(t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
      tasks.incrementAndGet()
  }

  def time[A](label: String)(f: => A): A = {
    val s0 = graft.Bench.stallNanos.get()
    val (j0, st0, tk0) = (jobs.get(), stages.get(), tasks.get())
    val t0 = System.nanoTime()
    val r = f
    val sec = (System.nanoTime() - t0) / 1e9
    Thread.sleep(300) // listener events are async — let the bus drain
    val stolen = (graft.Bench.stallNanos.get() - s0) / 1e9
    println(f"[prof] $label: $sec%.3f s (stolen $stolen%.2f, " +
      s"jobs ${jobs.get() - j0}, stages ${stages.get() - st0}, " +
      s"tasks ${tasks.get() - tk0})")
    r
  }

  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val which = if (args.length > 1) args(1) else "cbo_delta"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Bench.startStallProbe() // per-phase stolen-time evidence
    spark.sparkContext.addSparkListener(new CountListener)
    // warm codegen/JIT
    try graft.SparkEntry.queries("q1_agg")(spark, "/root/testdata/sf0.001").count()
    catch { case _: Throwable => () }

    (1 to 2).foreach { rep =>
      println(s"=== $which rep $rep ===")
      which match {
        case "cbo_delta" | "cbo_iceberg" =>
          val base = java.nio.file.Files.createTempDirectory("graft_prof").toString
          val orders = time("read orders")(spark.read
            .parquet(s"$sf/orders.parquet")
            .select(col("o_custkey").as("custkey"), col("o_orderkey"),
              col("o_totalprice")))
          val cust = spark.read.parquet(s"$sf/customer.parquet")
            .select(col("c_custkey"), col("c_name"))
          if (which == "cbo_delta") {
            time("DeltaWrite.create o")(
              graft.sources.DeltaWrite.create(spark, orders, s"$base/o"))
            time("DeltaWrite.create c")(
              graft.sources.DeltaWrite.create(spark, cust, s"$base/c"))
            time("DeltaNdv.analyze o")(
              graft.sources.DeltaNdv.analyze(spark, s"$base/o", Seq("custkey")))
            time("DeltaNdv.analyze c")(
              graft.sources.DeltaNdv.analyze(spark, s"$base/c", Seq("c_custkey")))
          } else {
            time("IcebergWrite.create o")(
              graft.sources.IcebergWrite.create(spark, orders, s"$base/o"))
            time("IcebergWrite.create c")(
              graft.sources.IcebergWrite.create(spark, cust, s"$base/c"))
            time("IcebergNdv.analyze o")(
              graft.sources.IcebergNdv.analyze(spark, s"$base/o", Seq("custkey")))
            time("IcebergNdv.analyze c")(
              graft.sources.IcebergNdv.analyze(spark, s"$base/c", Seq("c_custkey")))
          }
          val (df, _) = time("CboJoin.plan")(
            graft.sources.CboJoin.plan(spark, s"$base/o", s"$base/c",
              Seq("custkey" -> "c_custkey")))
          time("agg+count")(df.groupBy("custkey", "c_name")
            .agg(count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
                .as("sum_price"))
            .orderBy("custkey", "c_name").count())

        case "delta_transform" =>
          val base = java.nio.file.Files
            .createTempDirectory("graft_prof").toString + "/t"
          val ev = spark.read.parquet(s"$sf/events.parquet")
            .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
              col("user_id"), col("event_type"))
          time("create partitioned")(graft.sources.DeltaWrite.create(spark, ev,
            base, partitionBy = Seq("day(ts)", "truncate(2, event_type)")))
          time("deleteWhere")(graft.sources.DeltaWrite.deleteWhere(spark, base,
            col("ts") >= to_timestamp(lit("2024-01-12 00:00:00")) &&
              col("ts") < to_timestamp(lit("2024-01-13 00:00:00"))))
          def rd(f: Option[org.apache.spark.sql.Column]) =
            graft.sources.DeltaScan.read(spark, base, skippingFilter = f)
              .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
                col("user_id"), col("event_type"))
          val all = time("build read all")(rd(scala.None))
          val day = time("build read day")(rd(Some(
            col("ts") >= to_timestamp(lit("2024-01-10 00:00:00")) &&
              col("ts") < to_timestamp(lit("2024-01-11 00:00:00")))))
          val pref = time("build read pref")(rd(Some(col("event_type") === "purchase")))
          time("union+count")(
            all.unionByName(day).unionByName(pref)
              .orderBy("event_id", "ts_us").count())

        case "delta_create_phases" =>
          // replicate DeltaWrite.commit's phases for the q_delta_transform
          // create, timed separately: generated-column projection,
          // repartition+partitionBy staging write, footer stats reads
          val base = java.nio.file.Files
            .createTempDirectory("graft_prof").toString + "/t"
          val ev = spark.read.parquet(s"$sf/events.parquet")
            .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
              col("user_id"), col("event_type"))
          val ddf = ev
            .withColumn("__day", expr("CAST(ts AS DATE)"))
            .withColumn("__et2", expr("SUBSTRING(event_type, 1, 2)"))
          println(s"[prof] rows: ${ev.count()}")
          time("noop repartition only")(
            ddf.repartition(col("__day"), col("__et2"))
              .write.format("noop").mode("overwrite").save())
          time("flat write (no partitionBy)")(
            ddf.repartition(col("__day"), col("__et2"))
              .write.mode("overwrite").parquet(s"$base/.flat"))
          val staging = s"$base/.staging"
          time("hash32 + partitionBy")(
            ddf.repartition(col("__day"), col("__et2"))
              .write.mode("append").partitionBy("__day", "__et2")
              .parquet(staging))
          time("hash150 + partitionBy")(
            ddf.repartition(150, col("__day"), col("__et2"))
              .write.mode("append").partitionBy("__day", "__et2")
              .parquet(s"$base/.s150"))
          time("hash32+sortWithin + partitionBy")(
            ddf.repartition(col("__day"), col("__et2"))
              .sortWithinPartitions("__day", "__et2")
              .write.mode("append").partitionBy("__day", "__et2")
              .parquet(s"$base/.s32s"))
          time("coalesce1 + partitionBy")(
            ddf.coalesce(1).sortWithinPartitions("__day", "__et2")
              .write.mode("append").partitionBy("__day", "__et2")
              .parquet(s"$base/.s1"))
          val fs = new org.apache.hadoop.fs.Path(staging)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          val files = {
            val it = fs.listFiles(new org.apache.hadoop.fs.Path(staging), true)
            val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.Path]
            while (it.hasNext) { val f = it.next(); if (f.getPath.getName.endsWith(".parquet")) buf += f.getPath }
            buf.toSeq
          }
          println(s"[prof] files written: ${files.size}")
          time("footer stats x" + files.size)(
            files.foreach(p => graft.sources.ParquetStats
              .statsJson(spark.sparkContext.hadoopConfiguration, p)))

        case "cdc_apply" =>
          // q_delta_cdc_apply phase by phase
          val base = java.nio.file.Files.createTempDirectory("graft_prof")
          val docs = spark.read.parquet(s"$sf/documents.parquet")
            .select("doc_id", "lang", "text")
          val src = base.resolve("s").toString
          val tgt = base.resolve("t").toString
          time("create src")(graft.sources.DeltaWrite.create(spark, docs, src))
          time("create tgt")(graft.sources.DeltaWrite.create(spark, docs, tgt))
          time("enableCDF")(graft.sources.DeltaWrite.enableChangeDataFeed(spark, src))
          time("updateWhere")(graft.sources.DeltaWrite.updateWhere(spark, src,
            col("doc_id") % 7 === 0,
            Seq("text" -> concat(lit("U:"), col("text")))))
          time("deleteWhere")(graft.sources.DeltaWrite.deleteWhere(spark, src,
            col("doc_id") % 5 === 0))
          time("merge")(graft.sources.DeltaWrite.merge(spark, src,
            docs.filter(col("doc_id") % 2 === 0)
              .select(col("doc_id"), col("lang"),
                concat(lit("M:"), col("text")).as("text")), Seq("doc_id")))
          time("applyChanges")(graft.sources.DeltaWrite.applyChanges(spark, src,
            tgt, Seq("doc_id"), "gate_replica", startVersion = 2L))
          time("read replica + count")(graft.sources.DeltaScan.read(spark, tgt)
            .select("doc_id", "lang", "text").orderBy("doc_id").count())

        case "bucket_join" =>
          val base = java.nio.file.Files.createTempDirectory("graft_prof").toString
          val orders = spark.read.parquet(s"$sf/orders.parquet")
            .select(col("o_custkey").as("custkey"), col("o_orderkey"),
              col("o_totalprice"))
          val cust = spark.read.parquet(s"$sf/customer.parquet")
            .select(col("c_custkey").as("custkey"), col("c_name"))
          time("create o bucket(8)")(graft.sources.IcebergWrite.create(spark,
            orders, s"$base/o", partitionBy = Seq("bucket(8, custkey)")))
          time("create c bucket(8)")(graft.sources.IcebergWrite.create(spark,
            cust, s"$base/c", partitionBy = Seq("bucket(8, custkey)")))
          time("deleteWhere o")(graft.sources.IcebergWrite.deleteWhere(spark,
            s"$base/o", col("o_orderkey") % 5 === 0))
          time("join+agg+count")(graft.sources.BucketJoin
            .join(spark, s"$base/o", s"$base/c", "custkey")
            .groupBy("custkey", "c_name")
            .agg(count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
                .as("sum_price"))
            .orderBy("custkey").count())

        case "join_star" =>
          time("whole gate")(graft.SparkEntry
            .queries("q_join_star")(spark, sf).count())

        case "merge_metrics_ab" =>
          // interleaved A/B of the merge victim+metrics query shapes
          // against the same Delta table — same JVM, same minute, so
          // host drift hits both arms equally. A = the old two-job
          // shape (semi-join victim sweep, then victim-only metrics
          // agg); B = the fused one-job two-level agg.
          val base = java.nio.file.Files.createTempDirectory("graft_prof").toString + "/t"
          val docs = spark.read.parquet(s"$sf/documents.parquet")
            .select("doc_id", "lang", "text")
          graft.sources.DeltaWrite.create(spark, docs, base)
          val keys = Seq("doc_id")
          val dataK = docs.filter(col("doc_id") % 2 === 0)
            .select(col("doc_id")).persist()
          dataK.count()
          val scan = () => graft.sources.DeltaScan.read(spark, base)
            .withColumn("__rel", input_file_name())
          (1 to 3).foreach { i =>
            time(s"A$i old two-job")({
              val victims = scan().join(dataK, keys, "left_semi")
                .agg(collect_set(col("__rel"))).head().getSeq[String](0).sorted
              val srcK = dataK.distinct()
                .withColumn("__s", lit(1)).withColumn("__d", lit(0))
              val m = scan().filter(col("__rel").isInCollection(victims))
                .groupBy(keys.map(col): _*)
                .agg(count(lit(1)).as("__nt"))
                .join(srcK, keys, "inner")
                .agg(coalesce(sum(when(col("__s") === 1, col("__nt"))), lit(0L)),
                  coalesce(sum(when(col("__d") === 1, col("__nt"))), lit(0L)),
                  coalesce(sum(col("__s").cast("long")), lit(0L))).head()
              (victims.size, m.getLong(0))
            })
            time(s"B$i fused one-job")({
              val srcK = dataK.distinct()
                .withColumn("__s", lit(1)).withColumn("__d", lit(0))
              val m = scan().join(srcK, keys, "inner")
                .groupBy((keys.map(col) :+ col("__s") :+ col("__d")): _*)
                .agg(count(lit(1)).as("__nt"), collect_set(col("__rel")).as("__fk"))
                .agg(array_distinct(flatten(collect_list(col("__fk")))).as("files"),
                  coalesce(sum(when(col("__s") === 1, col("__nt"))), lit(0L)),
                  coalesce(sum(when(col("__d") === 1, col("__nt"))), lit(0L)),
                  coalesce(sum(col("__s").cast("long")), lit(0L))).head()
              (m.getSeq[String](0).size, m.getLong(1))
            })
          }
          dataK.unpersist()

        case "ingest_neardup" =>
          val root = java.nio.file.Files.createTempDirectory("graft_prof").toString
          val docs = spark.read.parquet(s"$sf/documents.parquet")
            .select("doc_id", "text")
          time("ingest 1 (half)")(graft.operators.Pipelines.ingestIncrementNearDup(
            spark, s"$root/corpus", s"$root/index",
            docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", threshold = 0.4))
          time("ingest 2 (full)")(graft.operators.Pipelines.ingestIncrementNearDup(
            spark, s"$root/corpus", s"$root/index",
            docs, "doc_id", "text", threshold = 0.4))
          time("read corpus + count")(
            graft.sources.DeltaScan.read(spark, s"$root/corpus")
              .select("doc_id", "content_hash").orderBy("doc_id").count())

        case other =>
          println(s"[prof] unknown gate: $other")
      }
    }
    spark.stop()
  }
}
