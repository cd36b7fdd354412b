package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import graft.sources.{BucketJoin, IcebergScan, IcebergWrite}

class BucketJoinSpec extends SparkSpec {
  import spark.implicits._

  private def mkTables(n: Int): (String, String) = {
    val base = java.nio.file.Files.createTempDirectory("graft_bktjoin").toString
    // left (fact): several rows per key, some keys null, key gaps
    val left = ((1 to 300).map(i => (Some((i % 60).toLong), s"l$i")) ++
      Seq((Option.empty[Long], "lnull1"), (Option.empty[Long], "lnull2")))
      .toDF("k", "lv")
    // right (dim): one row per key, covers only part of the key space
    val right = ((0 to 40).map(i => (Some(i.toLong), s"r$i")) ++
      Seq((Option.empty[Long], "rnull"))).toDF("k", "rv")
    IcebergWrite.create(spark, left, s"$base/l",
      partitionBy = Seq(s"bucket($n, k)"))
    IcebergWrite.create(spark, right, s"$base/r",
      partitionBy = Seq(s"bucket($n, k)"))
    (s"$base/l", s"$base/r")
  }

  test("bucket-aligned inner join equals the plain join and never exchanges the fact side") {
    val (l, r) = mkTables(4)
    val joined = BucketJoin.join(spark, l, r, "k")
    val expect = IcebergScan.read(spark, l)
      .join(IcebergScan.read(spark, r), Seq("k"))
      .select("k", "lv", "rv").as[(Long, String, String)].collect().sorted
    val got = joined.select("k", "lv", "rv")
      .as[(Long, String, String)].collect().sorted
    assert(got.nonEmpty && got.toSeq == expect.toSeq)

    // the plan is a union of per-bucket BroadcastHashJoins directly
    // over the fact-side scans: zero shuffle exchange ANYWHERE — the
    // whole point of the aligned layout
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucket-aligned join must not shuffle:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
    // round 12: every union branch probes the SAME whole-right-side
    // broadcast — the subtrees are canonically identical, so AQE's
    // stage cache materializes ONE broadcast stage and every other
    // branch reuses it (N broadcast-build jobs collapse to one with
    // the same live bytes). Visible only in the executed final plan:
    // one BroadcastExchangeExec node, every other stage a reuse of it.
    joined.collect()
    val finalPlan = joined.queryExecution.executedPlan
    // walks the final adaptive plan through its query stages; a reuse
    // is a leaf, so the exchange it points at is not counted again
    object Stages extends AdaptiveSparkPlanHelper
    val builds = Stages.collect(finalPlan) { case b: BroadcastExchangeExec => b }.size
    val reused = Stages.collect(finalPlan) { case r: ReusedExchangeExec => r }.size
    assert(builds == 1 && reused >= 1,
      s"expected one shared broadcast build + reuses, got builds=$builds " +
        s"reused=$reused:\n$finalPlan")
  }

  test("bucket-aligned left join keeps unmatched and null-key fact rows") {
    val (l, r) = mkTables(4)
    val joined = BucketJoin.join(spark, l, r, "k", joinType = "left")
    val expect = IcebergScan.read(spark, l)
      .join(IcebergScan.read(spark, r), Seq("k"), "left")
      .select("k", "lv", "rv").collect()
      .map(x => (if (x.isNullAt(0)) -1L else x.getLong(0), x.getString(1),
        Option(x.getString(2)).getOrElse(""))).sorted
    val got = joined.select("k", "lv", "rv").collect()
      .map(x => (if (x.isNullAt(0)) -1L else x.getLong(0), x.getString(1),
        Option(x.getString(2)).getOrElse(""))).sorted
    assert(got.toSeq == expect.toSeq)
    // null-key fact rows survive with null right columns
    assert(got.count(_._1 == -1L) == 2)
  }

  test("bucket-aligned join reads through deletes and MOR deltas") {
    val (l, r) = mkTables(8)
    IcebergWrite.deleteWhere(spark, l, col("lv").startsWith("l1")) // l1, l10..l19, ...
    IcebergWrite.setProperties(spark, r, Map("write.update.mode" -> "merge-on-read"))
    IcebergWrite.updateWhere(spark, r, col("k") % 2 === 0,
      Seq("rv" -> concat(lit("U:"), col("rv"))))
    val got = BucketJoin.join(spark, l, r, "k")
      .select("k", "lv", "rv").as[(Long, String, String)].collect().sorted
    val expect = IcebergScan.read(spark, l)
      .join(IcebergScan.read(spark, r), Seq("k"))
      .select("k", "lv", "rv").as[(Long, String, String)].collect().sorted
    assert(got.nonEmpty && got.toSeq == expect.toSeq)
    assert(got.forall(x => !x._2.startsWith("l1")))
    assert(got.exists(_._3.startsWith("U:")))
  }

  test("misaligned layouts refuse loudly") {
    val base = java.nio.file.Files.createTempDirectory("graft_bktjoin_bad").toString
    val df = (1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    IcebergWrite.create(spark, df, s"$base/b4", partitionBy = Seq("bucket(4, k)"))
    IcebergWrite.create(spark, df, s"$base/b8", partitionBy = Seq("bucket(8, k)"))
    IcebergWrite.create(spark, df, s"$base/id", partitionBy = Seq("k"))
    IcebergWrite.create(spark, df.withColumn("k", col("k").cast("string")),
      s"$base/str", partitionBy = Seq("bucket(4, k)"))
    // different N
    val e1 = intercept[IllegalArgumentException](
      BucketJoin.join(spark, s"$base/b4", s"$base/b8", "k"))
    assert(e1.getMessage.contains("bucket counts differ"))
    // not bucket-partitioned on the key
    val e2 = intercept[IllegalArgumentException](
      BucketJoin.join(spark, s"$base/b4", s"$base/id", "k"))
    assert(e2.getMessage.contains("not bucket-partitioned"))
    // hash-incompatible key types (long vs string)
    val e3 = intercept[IllegalArgumentException](
      BucketJoin.join(spark, s"$base/b4", s"$base/str", "k"))
    assert(e3.getMessage.contains("do not hash"))
  }

  test("composite keys: extraKeys ride the aligned join (bucket key does the co-location)") {
    val base = java.nio.file.Files.createTempDirectory("graft_bktjoin_ck").toString
    val l = (1 to 100).map(i => (i.toLong % 10, s"g${i % 3}", s"l$i"))
      .toDF("k", "grp", "lv")
    val r = (0 to 9).flatMap(k => Seq((k.toLong, "g0", s"r$k-0"), (k.toLong, "g1", s"r$k-1")))
      .toDF("k", "grp", "rv")
    IcebergWrite.create(spark, l, s"$base/l", partitionBy = Seq("bucket(4, k)"))
    IcebergWrite.create(spark, r, s"$base/r", partitionBy = Seq("bucket(4, k)"))
    val got = BucketJoin.join(spark, s"$base/l", s"$base/r", "k",
      extraKeys = Seq("grp"))
      .select("k", "grp", "lv", "rv")
      .as[(Long, String, String, String)].collect().sorted
    val expect = IcebergScan.read(spark, s"$base/l")
      .join(IcebergScan.read(spark, s"$base/r"), Seq("k", "grp"))
      .select("k", "grp", "lv", "rv")
      .as[(Long, String, String, String)].collect().sorted
    assert(got.nonEmpty && got.toSeq == expect.toSeq)
    // g2 rows never match (right has only g0/g1)
    assert(got.forall(_._2 != "g2"))
  }

  test("per-bucket shuffled form (broadcastRight=false) stays correct") {
    val (l, r) = mkTables(4)
    val got = BucketJoin.join(spark, l, r, "k", broadcastRight = false)
      .select("k", "lv", "rv").as[(Long, String, String)].collect().sorted
    val expect = IcebergScan.read(spark, l)
      .join(IcebergScan.read(spark, r), Seq("k"))
      .select("k", "lv", "rv").as[(Long, String, String)].collect().sorted
    assert(got.toSeq == expect.toSeq)
  }

  private def rowKey(x: org.apache.spark.sql.Row): (Long, String, String) =
    (if (x.isNullAt(0)) -1L else x.getLong(0),
      Option(x.getString(1)).getOrElse(""), Option(x.getString(2)).getOrElse(""))

  test("bucket-aligned right join preserves unmatched and null-key dim rows") {
    val (l, r) = mkTables(4)
    val got = BucketJoin.join(spark, l, r, "k", joinType = "right")
      .select("k", "lv", "rv").collect().map(rowKey).sorted
    val expect = IcebergScan.read(spark, l)
      .join(IcebergScan.read(spark, r), Seq("k"), "right")
      .select("k", "lv", "rv").collect().map(rowKey).sorted
    assert(got.nonEmpty && got.toSeq == expect.toSeq)
    // the right null-key row survives with null left columns
    assert(got.count(x => x._1 == -1L && x._2 == "") == 1)
  }

  test("bucket-aligned full join preserves both sides' unmatched and null-key rows") {
    val (l, r) = mkTables(4)
    val got = BucketJoin.join(spark, l, r, "k", joinType = "full")
      .select("k", "lv", "rv").collect().map(rowKey).sorted
    val expect = IcebergScan.read(spark, l)
      .join(IcebergScan.read(spark, r), Seq("k"), "full")
      .select("k", "lv", "rv").collect().map(rowKey).sorted
    assert(got.nonEmpty && got.toSeq == expect.toSeq)
    // 2 left null-key rows + 1 right null-key row, none matching
    assert(got.count(_._1 == -1L) == 3)
  }

  test("broadcast budget: an over-budget right side auto-falls-back to shuffled joins") {
    val (l, r) = mkTables(4)
    val before = BucketJoin.maxBroadcastTotalBytes
    val thresholdBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      BucketJoin.maxBroadcastTotalBytes = 1L // everything is over budget
      // silence Catalyst's own size-based broadcast so the plan shows
      // whether the verb FORCED one (at scale the buckets exceed the
      // auto threshold anyway — this models that)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = BucketJoin.join(spark, l, r, "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"over-budget join must not broadcast:\n$plan")
      val got = joined.select("k", "lv", "rv")
        .as[(Long, String, String)].collect().sorted
      val expect = IcebergScan.read(spark, l)
        .join(IcebergScan.read(spark, r), Seq("k"))
        .select("k", "lv", "rv").as[(Long, String, String)].collect().sorted
      assert(got.nonEmpty && got.toSeq == expect.toSeq)
    } finally {
      BucketJoin.maxBroadcastTotalBytes = before
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdBefore)
    }
  }

  test("storage-partitioned aggregation: complete per-bucket aggregates, zero Exchange") {
    val (l, _) = mkTables(8)
    val agg = BucketJoin.aggregate(spark, l, "k",
      Seq(count(lit(1)).as("n"), max(col("lv")).as("mx")))
    val expect = IcebergScan.read(spark, l).groupBy("k")
      .agg(count(lit(1)).as("n"), max(col("lv")).as("mx"))
      .collect().map(x => (if (x.isNullAt(0)) -1L else x.getLong(0),
        x.getLong(1), x.getString(2))).sorted
    val got = agg.collect().map(x => (if (x.isNullAt(0)) -1L else x.getLong(0),
      x.getLong(1), x.getString(2))).sorted
    assert(got.nonEmpty && got.toSeq == expect.toSeq)
    // null keys form exactly one global group (they live in one bucket)
    assert(got.count(_._1 == -1L) == 1)
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"storage-partitioned aggregation must not shuffle:\n$plan")
  }

  test("storage-partitioned aggregation with extra group columns and deletes applied") {
    val base = java.nio.file.Files.createTempDirectory("graft_bktagg").toString
    val df = (1 to 200).map(i => (i.toLong % 10, s"g${i % 3}", i.toLong))
      .toDF("k", "grp", "v")
    IcebergWrite.create(spark, df, s"$base/t", partitionBy = Seq("bucket(4, k)"))
    IcebergWrite.deleteWhere(spark, s"$base/t", col("v") > 150L)
    val agg = BucketJoin.aggregate(spark, s"$base/t", "k",
      Seq(sum(col("v")).as("s")), extraGroupCols = Seq("grp"))
    val expect = IcebergScan.read(spark, s"$base/t").groupBy("k", "grp")
      .agg(sum(col("v")).as("s"))
      .as[(Long, String, Long)].collect().sorted
    val got = agg.as[(Long, String, Long)].collect().sorted
    assert(got.nonEmpty && got.toSeq == expect.toSeq)
  }
}
