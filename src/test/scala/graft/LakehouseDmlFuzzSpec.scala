package graft

import org.apache.spark.sql.functions._
import graft.sources.{DeltaScan, DeltaWrite, IcebergScan, IcebergWrite}

/** Randomized DML-sequence fuzz for both lakehouse writers: a fixed-
  * seed stream of append / delete / update / merge / compact / restore
  * (Delta) and append / positional-delete / equality-delete / compact /
  * rollback / expire (Iceberg) runs against a driver-side model (a
  * plain Map the same mutations are applied to), and the table read
  * must equal the model after EVERY op. This is the strongest
  * interleaving evidence the unit specs can't give: the ops compose in
  * orders no hand-written case covers (delete after compact after
  * merge, restore across all of it, expire after rollback, …).
  * Seeds are fixed — failures reproduce exactly. */
class LakehouseDmlFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def readDeltaModel(dir: String): Map[Long, (String, Long)] =
    DeltaScan.read(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  test("Delta: 40 random append/delete/update/merge/compact/restore ops track the model") {
    val rnd = new scala.util.Random(421107L)
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_fuzz").toString + "/t"
    var model = Map.empty[Long, (String, Long)] // id -> (tag, score)
    var nextId = 0L
    // log version -> model state AT that version (restore targets);
    // keyed by the REAL latestVersion so 0-commit ops can't skew it
    var hist = Map.empty[Long, Map[Long, (String, Long)]]

    def freshRows(n: Int): Seq[(Long, String, Long)] =
      (1 to n).map { _ =>
        nextId += 1
        (nextId, s"t${rnd.nextInt(5)}", rnd.nextInt(100).toLong)
      }
    def df(rows: Seq[(Long, String, Long)]) = rows.toDF("id", "tag", "score")
    def sync(): Unit = hist += DeltaScan.latestVersion(spark, dir) -> model

    val r0 = freshRows(6)
    DeltaWrite.create(spark, df(r0), dir)
    model = r0.map(r => r._1 -> (r._2, r._3)).toMap
    sync()

    (1 to 40).foreach { step =>
      rnd.nextInt(6) match {
        case 0 => // append
          val rows = freshRows(1 + rnd.nextInt(4))
          DeltaWrite.append(spark, df(rows), dir)
          model ++= rows.map(r => r._1 -> (r._2, r._3))
        case 1 => // deleteWhere on a random tag
          val tag = s"t${rnd.nextInt(5)}"
          val n = DeltaWrite.deleteWhere(spark, dir, col("tag") === tag)
          val victims = model.filter(_._2._1 == tag)
          assert(n == victims.size, s"step $step: delete count $n != ${victims.size}")
          model --= victims.keys
        case 2 => // updateWhere: bump score where score < k
          val k = 20L + rnd.nextInt(60)
          val n = DeltaWrite.updateWhere(spark, dir, col("score") < k,
            Seq("score" -> (col("score") + 1000L)))
          val hits = model.filter(_._2._2 < k)
          assert(n == hits.size, s"step $step: update count $n != ${hits.size}")
          model ++= hits.map { case (id, (t, s)) => id -> (t, s + 1000L) }
        case 3 => // merge: update a random live subset + insert fresh
          val updates = model.keys.toSeq.sorted
            .filter(_ => rnd.nextBoolean()).take(3)
            .map(id => (id, s"t${rnd.nextInt(5)}", rnd.nextInt(100).toLong))
          val inserts = freshRows(rnd.nextInt(3))
          val src = updates ++ inserts
          if (src.nonEmpty) {
            val (u, i) = DeltaWrite.merge(spark, dir, df(src), Seq("id"))
            assert(u == updates.size && i == inserts.size,
              s"step $step: merge counts ($u,$i) != (${updates.size},${inserts.size})")
            model ++= src.map(r => r._1 -> (r._2, r._3))
          }
        case 4 => // compact (content no-op)
          DeltaWrite.compact(spark, dir, smallFileBytes = 1L << 20, targetFiles = 1)
        case 5 => // restore to a random recorded version
          val versions = hist.keys.toSeq.sorted
          val v = versions(rnd.nextInt(versions.size))
          DeltaWrite.restore(spark, dir, v)
          model = hist(v)
      }
      sync()
      val got = readDeltaModel(dir)
      assert(got == model,
        s"step $step: table ${got.size} rows diverged from model ${model.size}")
    }
  }

  test("MAPPED Delta: 40 random ops with renames interleaved track the model") {
    // the round-7 composition: columnMapping renames keep LANDING in
    // the middle of the DML stream — every op after a rename addresses
    // the moved logical name, and the physical bytes never move
    val rnd = new scala.util.Random(777321L)
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_map_fuzz").toString + "/t"
    var model = Map.empty[Long, (String, Long)] // id -> (tag, score)
    var nextId = 0L
    var tagCol = "tag"
    var scoreCol = "score"
    var gen = 0

    def freshRows(n: Int): Seq[(Long, String, Long)] =
      (1 to n).map { _ =>
        nextId += 1
        (nextId, s"t${rnd.nextInt(4)}", rnd.nextInt(100).toLong)
      }
    def df(rows: Seq[(Long, String, Long)]) = rows.toDF("id", tagCol, scoreCol)

    val r0 = freshRows(6)
    DeltaWrite.create(spark, df(r0), dir)
    model = r0.map(r => r._1 -> (r._2, r._3)).toMap
    DeltaWrite.renameColumn(spark, dir, "tag", "tag_g0") // mapped from the start
    tagCol = "tag_g0"

    (1 to 40).foreach { step =>
      rnd.nextInt(6) match {
        case 0 => // rename one of the two mutable columns
          gen += 1
          if (rnd.nextBoolean()) {
            DeltaWrite.renameColumn(spark, dir, tagCol, s"tag_g$gen"); tagCol = s"tag_g$gen"
          } else {
            DeltaWrite.renameColumn(spark, dir, scoreCol, s"score_g$gen"); scoreCol = s"score_g$gen"
          }
        case 1 =>
          val rows = freshRows(1 + rnd.nextInt(4))
          DeltaWrite.append(spark, df(rows), dir)
          model ++= rows.map(r => r._1 -> (r._2, r._3))
        case 2 =>
          val tag = s"t${rnd.nextInt(4)}"
          val n = DeltaWrite.deleteWhere(spark, dir, col(tagCol) === tag)
          val victims = model.filter(_._2._1 == tag)
          assert(n == victims.size, s"step $step: delete count $n != ${victims.size}")
          model --= victims.keys
        case 3 =>
          val k = 20L + rnd.nextInt(60)
          val n = DeltaWrite.updateWhere(spark, dir, col(scoreCol) < k,
            Seq(scoreCol -> (col(scoreCol) + 1000L)))
          val hits = model.filter(_._2._2 < k)
          assert(n == hits.size, s"step $step: update count $n != ${hits.size}")
          model ++= hits.map { case (id, (t, s)) => id -> (t, s + 1000L) }
        case 4 =>
          val updates = model.keys.toSeq.sorted
            .filter(_ => rnd.nextBoolean()).take(3)
            .map(id => (id, s"t${rnd.nextInt(4)}", rnd.nextInt(100).toLong))
          val inserts = freshRows(rnd.nextInt(3))
          val src = updates ++ inserts
          if (src.nonEmpty) {
            val (u, i) = DeltaWrite.merge(spark, dir, df(src), Seq("id"))
            assert(u == updates.size && i == inserts.size,
              s"step $step: merge counts ($u,$i) != (${updates.size},${inserts.size})")
            model ++= src.map(r => r._1 -> (r._2, r._3))
          }
        case 5 =>
          DeltaWrite.compact(spark, dir, smallFileBytes = 1L << 20, targetFiles = 1)
      }
      val got = readDeltaModel(dir)
      assert(got == model,
        s"step $step: table ${got.size} rows diverged from model ${model.size}")
    }
  }

  test("Delta OCC fuzz: 30 random DMLs each racing a random winner track the serial outcome") {
    // every loser DML plans against the pre-race snapshot; a random
    // winner (append or a disjoint-tag delete) commits inside the
    // commit window. The engine may COMMUTE (stats/files disjoint) or
    // ABORT — both must leave the table equal to the serial model:
    // winner first, then (only if the loser committed) the loser's
    // pre-race plan.
    val rnd = new scala.util.Random(90815L)
    val dir = java.nio.file.Files.createTempDirectory("graft_occ_fuzz").toString + "/t"
    var model = Map.empty[Long, (String, Long)] // id -> (tag, score)
    var nextId = 0L
    def freshRows(n: Int, tags: Seq[String]): Seq[(Long, String, Long)] =
      (1 to n).map { _ =>
        nextId += 1
        (nextId, tags(rnd.nextInt(tags.size)), rnd.nextInt(100).toLong)
      }
    def df(rows: Seq[(Long, String, Long)]) = rows.toDF("id", "tag", "score")
    // winner tags and loser tags are disjoint ROW sets (a row has one
    // tag), so a commuting outcome is always serializable; file overlap
    // still forces aborts, which the model handles too
    val winnerTags = Seq("t0", "t1")
    val loserTags = Seq("t2", "t3", "t4")

    val r0 = freshRows(8, winnerTags ++ loserTags)
    DeltaWrite.create(spark, df(r0), dir)
    model = r0.map(r => r._1 -> (r._2, r._3)).toMap

    (1 to 30).foreach { step =>
      var afterWinner = model
      val winner: () => Unit = rnd.nextInt(3) match {
        case 0 => // append
          val rows = freshRows(1 + rnd.nextInt(3), winnerTags ++ loserTags)
          afterWinner = model ++ rows.map(r => r._1 -> (r._2, r._3))
          () => DeltaWrite.append(spark, df(rows), dir)
        case 1 => // delete a winner-only tag
          val tag = winnerTags(rnd.nextInt(winnerTags.size))
          afterWinner = model.filterNot(_._2._1 == tag)
          () => { DeltaWrite.deleteWhere(spark, dir, col("tag") === tag); () }
        case 2 => // no racer this round
          () => ()
      }
      // a loser that matches nothing returns WITHOUT committing — the
      // hook never fires and the winner never ran; track that
      var winnerRan = false
      DeltaWrite.beforeDmlCommit =
        () => { DeltaWrite.beforeDmlCommit = () => (); winnerRan = true; winner() }
      def base = if (winnerRan) afterWinner else model
      val outcome: Either[Unit, Map[Long, (String, Long)]] =
        try Right(rnd.nextInt(3) match {
          case 0 =>
            val tag = loserTags(rnd.nextInt(loserTags.size))
            val n = DeltaWrite.deleteWhere(spark, dir, col("tag") === tag)
            val victims = model.filter(_._2._1 == tag)
            assert(n == victims.size, s"step $step: delete count $n != ${victims.size}")
            base -- victims.keys
          case 1 =>
            val k = 20L + rnd.nextInt(60)
            val n = DeltaWrite.updateWhere(spark, dir, col("score") < k,
              Seq("score" -> (col("score") + 1000L)))
            val hits = model.filter(_._2._2 < k)
            assert(n == hits.size, s"step $step: update count $n != ${hits.size}")
            base ++ hits.map { case (id, (t, s)) => id -> (t, s + 1000L) }
          case 2 =>
            DeltaWrite.compact(spark, dir, smallFileBytes = 1L << 20, targetFiles = 1)
            base
        })
        catch { case _: java.util.ConcurrentModificationException => Left(()) }
        finally DeltaWrite.beforeDmlCommit = () => ()
      model = outcome.getOrElse(base)
      val got = readDeltaModel(dir)
      assert(got == model,
        s"step $step (${if (outcome.isRight) "commuted" else "aborted"}): " +
          s"table ${got.size} rows diverged from model ${model.size}")
    }
  }

  test("Delta DV-DML OCC fuzz: 25 random DV ops each racing a random winner track the serial outcome") {
    // DV DMLs re-ADD their victim files (descriptor swap) — a racing
    // writer touching the same file must abort or the winner's DV is
    // lost; disjoint files/stats commute. Losers plan pre-race, a
    // random winner commits inside the commit window; outcome must
    // equal the serial model (winner first, loser iff it committed).
    val rnd = new scala.util.Random(81508L)
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_occ_fuzz").toString + "/t"
    var model = Map.empty[Long, (String, Long)] // id -> (tag, score)
    var nextId = 0L
    def freshRows(n: Int, tags: Seq[String]): Seq[(Long, String, Long)] =
      (1 to n).map { _ =>
        nextId += 1
        (nextId, tags(rnd.nextInt(tags.size)), rnd.nextInt(100).toLong)
      }
    def df(rows: Seq[(Long, String, Long)]) = rows.toDF("id", "tag", "score")
    val winnerTags = Seq("t0", "t1")
    val loserTags = Seq("t2", "t3", "t4")

    val r0 = freshRows(8, winnerTags ++ loserTags)
    DeltaWrite.create(spark, df(r0), dir)
    model = r0.map(r => r._1 -> (r._2, r._3)).toMap

    (1 to 25).foreach { step =>
      var afterWinner = model
      val winner: () => Unit = rnd.nextInt(3) match {
        case 0 => // append
          val rows = freshRows(1 + rnd.nextInt(3), winnerTags ++ loserTags)
          afterWinner = model ++ rows.map(r => r._1 -> (r._2, r._3))
          () => DeltaWrite.append(spark, df(rows), dir)
        case 1 => // DV delete of a winner-only tag
          val tag = winnerTags(rnd.nextInt(winnerTags.size))
          afterWinner = model.filterNot(_._2._1 == tag)
          () => { DeltaWrite.deleteWhereDV(spark, dir, col("tag") === tag); () }
        case 2 => () => ()
      }
      var winnerRan = false
      DeltaWrite.beforeDmlCommit =
        () => { DeltaWrite.beforeDmlCommit = () => (); winnerRan = true; winner() }
      def base = if (winnerRan) afterWinner else model
      val outcome: Either[Unit, Map[Long, (String, Long)]] =
        try Right(rnd.nextInt(4) match {
          case 0 => // DV delete by loser tag
            val tag = loserTags(rnd.nextInt(loserTags.size))
            val n = DeltaWrite.deleteWhereDV(spark, dir, col("tag") === tag)
            val victims = model.filter(_._2._1 == tag)
            assert(n == victims.size, s"step $step: dv delete $n != ${victims.size}")
            base -- victims.keys
          case 1 => // DV update by score predicate
            val k = 20L + rnd.nextInt(60)
            val n = DeltaWrite.updateWhereDV(spark, dir, col("score") < k,
              Seq("score" -> (col("score") + 1000L)))
            val hits = model.filter(_._2._2 < k)
            assert(n == hits.size, s"step $step: dv update $n != ${hits.size}")
            base ++ hits.map { case (id, (t, s)) => id -> (t, s + 1000L) }
          case 2 => // purge: row-preserving whatever raced it
            DeltaWrite.purge(spark, dir)
            base
          case 3 => // DV merge reads the whole table: commits only alone
            val updates = model.keys.toSeq.sorted
              .filter(_ => rnd.nextBoolean()).take(2)
              .map(id => (id, model(id)._1, model(id)._2 + 5000L))
            val inserts = freshRows(1, loserTags)
            val (u, i) = DeltaWrite.mergeDV(spark, dir,
              df(updates ++ inserts), Seq("id"))
            assert(u == updates.size && i == inserts.size,
              s"step $step: dv merge ($u,$i) != (${updates.size},${inserts.size})")
            base ++ (updates ++ inserts).map(r => r._1 -> (r._2, r._3))
        })
        catch { case _: java.util.ConcurrentModificationException => Left(()) }
        finally DeltaWrite.beforeDmlCommit = () => ()
      model = outcome.getOrElse(base)
      val got = DeltaScan.read(spark, dir).collect()
        .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
      assert(got == model,
        s"step $step (${if (outcome.isRight) "committed" else "aborted"}): " +
          s"table ${got.size} rows diverged from model ${model.size}")
    }
  }

  test("Delta DV track: 30 random append/dvdelete/checkpoint/vacuum ops track the model") {
    val rnd = new scala.util.Random(90210L)
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_fuzz").toString + "/t"
    var model = Map.empty[Long, String] // id -> tag
    var nextId = 0L
    def freshRows(n: Int): Seq[(Long, String)] =
      (1 to n).map { _ => nextId += 1; (nextId, s"t${rnd.nextInt(4)}") }

    // version -> model view, for the CDC-replay invariant; vacuum
    // reclaims superseded files, so recorded history resets there
    var vsnaps = Map.empty[Long, Map[Long, String]]
    def syncV(): Unit = vsnaps += DeltaScan.latestVersion(spark, dir) -> model

    val r0 = freshRows(5)
    DeltaWrite.create(spark, r0.toDF("id", "tag"), dir)
    model = r0.toMap
    syncV()

    (1 to 30).foreach { step =>
      rnd.nextInt(8) match {
        case 0 | 1 => // append keeps the table growing
          val rows = freshRows(1 + rnd.nextInt(3))
          DeltaWrite.append(spark, rows.toDF("id", "tag"), dir)
          model ++= rows
        case 2 => // DV delete by tag — existing DVs must union in
          val tag = s"t${rnd.nextInt(4)}"
          val n = DeltaWrite.deleteWhereDV(spark, dir, col("tag") === tag)
          val victims = model.filter(_._2 == tag)
          assert(n == victims.size,
            s"step $step: dv delete counted $n, model says ${victims.size}")
          model --= victims.keys
        case 3 => // checkpoint must carry DVs + feature protocol; v2
          // (sidecar layout) interleaves with classic from step 15 on
          if (step >= 15 && step % 2 == 0) DeltaWrite.checkpointV2(spark, dir)
          else DeltaWrite.checkpoint(spark, dir)
        case 4 => // vacuum reclaims superseded DV bins, never live state
          DeltaWrite.vacuum(spark, dir, retainMs = 0L)
          vsnaps = Map.empty // older snapshots' files may be gone now
        case 5 => // DV update: retag a random tag — DV the old rows,
          // append images; stacks on rows whose files already carry DVs
          val from = s"t${rnd.nextInt(4)}"
          val to = s"t${rnd.nextInt(4)}"
          val n = DeltaWrite.updateWhereDV(spark, dir, col("tag") === from,
            Seq("tag" -> lit(to)))
          val hits = model.filter(_._2 == from)
          assert(n == hits.size,
            s"step $step: dv update counted $n, model says ${hits.size}")
          model ++= hits.keys.map(_ -> to)
        case 6 => // DV merge: retag a random live subset + insert fresh
          val updates = model.keys.toSeq.sorted
            .filter(_ => rnd.nextBoolean()).take(3)
            .map(id => (id, s"t${rnd.nextInt(4)}"))
          val inserts = freshRows(rnd.nextInt(3))
          val srcRows = updates ++ inserts
          if (srcRows.nonEmpty) {
            val (u, i) = DeltaWrite.mergeDV(spark, dir,
              srcRows.toDF("id", "tag"), Seq("id"))
            assert(u == updates.size && i == inserts.size,
              s"step $step: dv merge counts ($u,$i) != (${updates.size},${inserts.size})")
            model ++= srcRows
          }
        case 7 => // purge: materialize the DV debt, logical view unchanged
          DeltaWrite.purge(spark, dir)
      }
      syncV()
      val got = DeltaScan.read(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == model,
        s"step $step: table ${got.size} rows diverged from model ${model.size}")
      // CDC invariant (every 10th step): the snapshot diff from the
      // oldest surviving recorded version replays its model into the
      // current one — a DV update must diff as its delete+insert pair
      if (step % 10 == 0 && vsnaps.size >= 2) {
        val vs = vsnaps.keys.toSeq.sorted
        val (from, to) = (vs.head, vs.last)
        val diff = DeltaScan.changesBetween(spark, dir, from, to).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        var replay = vsnaps(from)
        diff.filter(_._3 == "delete").foreach { case (id, _, _) => replay -= id }
        diff.filter(_._3 == "insert").foreach { case (id, tag, _) => replay += id -> tag }
        assert(replay == model,
          s"step $step: snapshot diff v$from->v$to does not replay the model")
      }
    }
    // end state: purge clears whatever DV debt remains, after which the
    // copy-on-write ops work again and the table still tracks the model
    DeltaWrite.purge(spark, dir)
    if (model.nonEmpty) {
      DeltaWrite.compact(spark, dir, smallFileBytes = 1L << 30, targetFiles = 1)
      val got = DeltaScan.read(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == model, "post-purge compact diverged from the model")
    }
  }

  private def readIceModel(dir: String): Map[Long, String] =
    IcebergScan.read(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("Iceberg: 40 random append/posdelete/eqdelete/compact/rollback/expire/update/merge ops track the model") {
    val rnd = new scala.util.Random(70842L)
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_fuzz").toString + "/t"
    var model = Map.empty[Long, String]
    var nextId = 0L
    // snapshot-id -> model view at that snapshot (rollback targets);
    // expire prunes it by the same keepLast+current rule as the writer
    var snaps = Map.empty[Long, Map[Long, String]]

    def freshRows(n: Int): Seq[(Long, String)] =
      (1 to n).map { _ => nextId += 1; (nextId, s"t${rnd.nextInt(4)}") }
    def currentSnapshotId: Long = {
      val hint = java.nio.file.Paths.get(dir, "metadata", "version-hint.text")
      val v = new String(java.nio.file.Files.readAllBytes(hint), "UTF-8").trim
      val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir, "metadata", s"v$v.metadata.json")), "UTF-8"))
      meta.get("current-snapshot-id").asLong()
    }
    def sync(): Unit = snaps += currentSnapshotId -> model

    val r0 = freshRows(5)
    IcebergWrite.create(spark, r0.toDF("id", "tag"), dir)
    model = r0.toMap
    sync()

    (1 to 40).foreach { step =>
      rnd.nextInt(9) match {
        case 0 =>
          val rows = freshRows(1 + rnd.nextInt(4))
          IcebergWrite.append(spark, rows.toDF("id", "tag"), dir)
          model ++= rows
        case 1 => // positional delete by tag
          val tag = s"t${rnd.nextInt(4)}"
          val n = IcebergWrite.deleteWhere(spark, dir, col("tag") === tag)
          val victims = model.filter(_._2 == tag)
          assert(n == victims.size, s"step $step: posdelete $n != ${victims.size}")
          model --= victims.keys
        case 2 => // equality delete by id keys
          val keys = model.keys.toSeq.sorted.filter(_ => rnd.nextBoolean()).take(3)
          if (keys.nonEmpty) {
            val n = IcebergWrite.deleteEqual(spark, dir, keys.toDF("id"))
            assert(n == keys.size)
            model --= keys
          }
        case 3 =>
          IcebergWrite.compact(spark, dir, smallFileBytes = 1L << 20)
        case 4 => // rollback to a random recorded snapshot
          if (rnd.nextInt(3) == 0) {
            val ids = snaps.keys.toSeq.sorted
            val target = ids(rnd.nextInt(ids.size))
            IcebergWrite.rollback(spark, dir, target)
            model = snaps(target)
          }
        case 5 => // expire history, keep the newest 3 + current
          if (rnd.nextInt(3) == 0) {
            IcebergWrite.expireSnapshots(spark, dir, keepLast = 3)
            val kept = snaps.keys.toSeq.sorted.takeRight(3).toSet + currentSnapshotId
            snaps = snaps.filter { case (k, _) => kept.contains(k) }
          }
        case 6 => // copy-on-write update: retag every row of a random tag
          val from = s"t${rnd.nextInt(4)}"
          val to = s"t${rnd.nextInt(4)}"
          val n = IcebergWrite.updateWhere(spark, dir, col("tag") === from,
            Seq("tag" -> lit(to)))
          val hits = model.filter(_._2 == from)
          assert(n == hits.size, s"step $step: update count $n != ${hits.size}")
          model ++= hits.keys.map(_ -> to)
        case 7 => // merge: retag a random live subset + insert fresh
          val updates = model.keys.toSeq.sorted
            .filter(_ => rnd.nextBoolean()).take(3)
            .map(id => (id, s"t${rnd.nextInt(4)}"))
          val inserts = freshRows(rnd.nextInt(3))
          val src = updates ++ inserts
          if (src.nonEmpty) {
            val (u, i) = IcebergWrite.merge(spark, dir, src.toDF("id", "tag"), Seq("id"))
            assert(u == updates.size && i == inserts.size,
              s"step $step: merge counts ($u,$i) != (${updates.size},${inserts.size})")
            model ++= src
          }
        case 8 => // sort-order flip (round 10): LAYOUT metadata only —
          // later appends sort+stamp, compact range-clusters, and
          // content must never move; the registered orders must
          // survive every other op's metadata rewrite
          IcebergWrite.setSortOrder(spark, dir,
            rnd.nextInt(3) match {
              case 0 => Seq("id")
              case 1 => Seq("tag", "id desc")
              case 2 => Nil
            })
      }
      sync()
      val got = readIceModel(dir)
      assert(got == model,
        s"step $step: table ${got.size} rows diverged from model ${model.size}")
    }
    // the final metadata must still resolve its default sort order
    val hint = java.nio.file.Paths.get(dir, "metadata", "version-hint.text")
    val v = new String(java.nio.file.Files.readAllBytes(hint), "UTF-8").trim
    val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "metadata", s"v$v.metadata.json")), "UTF-8"))
    val defId = meta.get("default-sort-order-id").asInt()
    val ids = meta.get("sort-orders").elements()
    var found = false
    while (ids.hasNext) if (ids.next().get("order-id").asInt() == defId) found = true
    assert(found, s"default-sort-order-id $defId not registered in sort-orders")
  }

  test("MERGE-ON-READ Iceberg: 40 random ops track the model — updates/merges commit deltas, compact folds them") {
    // the CoW fuzz mix with write.update.mode/write.merge.mode =
    // merge-on-read: UPDATE stacks position deletes + images, MERGE
    // stacks equality deletes + appends, deleteWhere/deleteEqual stack
    // more deltas on the deltas, compact folds everything, rollback
    // crosses MOR snapshots — the interleavings no hand case covers
    val rnd = new scala.util.Random(80815L)
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_mor_fuzz").toString + "/t"
    var model = Map.empty[Long, String]
    var nextId = 0L
    var snaps = Map.empty[Long, Map[Long, String]]

    def freshRows(n: Int): Seq[(Long, String)] =
      (1 to n).map { _ => nextId += 1; (nextId, s"t${rnd.nextInt(4)}") }
    def currentSnapshotId: Long = {
      val hint = java.nio.file.Paths.get(dir, "metadata", "version-hint.text")
      val v = new String(java.nio.file.Files.readAllBytes(hint), "UTF-8").trim
      val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir, "metadata", s"v$v.metadata.json")), "UTF-8"))
      meta.get("current-snapshot-id").asLong()
    }
    def sync(): Unit = snaps += currentSnapshotId -> model

    val r0 = freshRows(5)
    IcebergWrite.create(spark, r0.toDF("id", "tag"), dir)
    IcebergWrite.setProperties(spark, dir, Map(
      "write.update.mode" -> "merge-on-read",
      "write.merge.mode" -> "merge-on-read"))
    model = r0.toMap
    sync()

    (1 to 40).foreach { step =>
      rnd.nextInt(7) match {
        case 0 =>
          val rows = freshRows(1 + rnd.nextInt(4))
          IcebergWrite.append(spark, rows.toDF("id", "tag"), dir)
          model ++= rows
        case 1 => // positional delete by tag (stacks on MOR images)
          val tag = s"t${rnd.nextInt(4)}"
          val n = IcebergWrite.deleteWhere(spark, dir, col("tag") === tag)
          val victims = model.filter(_._2 == tag)
          assert(n == victims.size, s"step $step: posdelete $n != ${victims.size}")
          model --= victims.keys
        case 2 => // equality delete by id keys
          val keys = model.keys.toSeq.sorted.filter(_ => rnd.nextBoolean()).take(3)
          if (keys.nonEmpty) {
            val n = IcebergWrite.deleteEqual(spark, dir, keys.toDF("id"))
            assert(n == keys.size)
            model --= keys
          }
        case 3 =>
          IcebergWrite.compact(spark, dir, smallFileBytes = 1L << 20)
        case 4 => // rollback across MOR snapshots
          if (rnd.nextInt(3) == 0) {
            val ids = snaps.keys.toSeq.sorted
            val target = ids(rnd.nextInt(ids.size))
            IcebergWrite.rollback(spark, dir, target)
            model = snaps(target)
          }
        case 5 => // MOR update: retag every row of a random tag
          val from = s"t${rnd.nextInt(4)}"
          val to = s"t${rnd.nextInt(4)}"
          val n = IcebergWrite.updateWhere(spark, dir, col("tag") === from,
            Seq("tag" -> lit(to)))
          val hits = model.filter(_._2 == from)
          assert(n == hits.size, s"step $step: MOR update count $n != ${hits.size}")
          model ++= hits.keys.map(_ -> to)
        case 6 => // MOR merge: retag a random live subset + insert fresh
          val updates = model.keys.toSeq.sorted
            .filter(_ => rnd.nextBoolean()).take(3)
            .map(id => (id, s"t${rnd.nextInt(4)}"))
          val inserts = freshRows(rnd.nextInt(3))
          val src = updates ++ inserts
          if (src.nonEmpty) {
            val (u, i) = IcebergWrite.merge(spark, dir, src.toDF("id", "tag"), Seq("id"))
            assert(u == updates.size && i == inserts.size,
              s"step $step: MOR merge counts ($u,$i) != (${updates.size},${inserts.size})")
            model ++= src
          }
      }
      sync()
      val got = readIceModel(dir)
      assert(got == model,
        s"step $step: table ${got.size} rows diverged from model ${model.size}")
    }
  }

  test("PARTITIONED Iceberg: 40 random ops track the model — updates migrate partitions constantly") {
    // same op mix, but the table is partitioned BY THE MUTATED COLUMN
    // (tag): every retagging update/merge moves rows across hive
    // partitions, position deletes shard per partition, equality
    // deletes go global under spec-id 1, compaction re-buckets — the
    // adversarial composition no hand case covers
    val rnd = new scala.util.Random(515253L)
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_part_fuzz").toString + "/t"
    var model = Map.empty[Long, String]
    var nextId = 0L
    var snaps = Map.empty[Long, Map[Long, String]]

    def freshRows(n: Int): Seq[(Long, String)] =
      (1 to n).map { _ => nextId += 1; (nextId, s"t${rnd.nextInt(4)}") }
    def currentSnapshotId: Long = {
      val hint = java.nio.file.Paths.get(dir, "metadata", "version-hint.text")
      val v = new String(java.nio.file.Files.readAllBytes(hint), "UTF-8").trim
      val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir, "metadata", s"v$v.metadata.json")), "UTF-8"))
      meta.get("current-snapshot-id").asLong()
    }
    def sync(): Unit = snaps += currentSnapshotId -> model

    val r0 = freshRows(5)
    IcebergWrite.create(spark, r0.toDF("id", "tag"), dir, partitionBy = Seq("tag"))
    model = r0.toMap
    sync()

    (1 to 40).foreach { step =>
      // mid-life mode switch: the second half runs the SAME op mix under
      // merge-on-read — partitioned MOR update (pos deletes + migrating
      // images) and MOR merge (global eq delete + partitioned appends)
      // interleave with CoW-era snapshots, rollback crosses the modes
      if (step == 21) IcebergWrite.setProperties(spark, dir, Map(
        "write.update.mode" -> "merge-on-read",
        "write.merge.mode" -> "merge-on-read"))
      rnd.nextInt(8) match {
        case 0 =>
          val rows = freshRows(1 + rnd.nextInt(4))
          IcebergWrite.append(spark, rows.toDF("id", "tag"), dir)
          model ++= rows
        case 1 => // positional delete ON the partition column
          val tag = s"t${rnd.nextInt(4)}"
          val n = IcebergWrite.deleteWhere(spark, dir, col("tag") === tag)
          val victims = model.filter(_._2 == tag)
          assert(n == victims.size, s"step $step: posdelete $n != ${victims.size}")
          model --= victims.keys
        case 2 => // global equality delete by id keys
          val keys = model.keys.toSeq.sorted.filter(_ => rnd.nextBoolean()).take(3)
          if (keys.nonEmpty) {
            val n = IcebergWrite.deleteEqual(spark, dir, keys.toDF("id"))
            assert(n == keys.size)
            model --= keys
          }
        case 3 =>
          IcebergWrite.compact(spark, dir, smallFileBytes = 1L << 20)
        case 4 =>
          if (rnd.nextInt(3) == 0) {
            val ids = snaps.keys.toSeq.sorted
            val target = ids(rnd.nextInt(ids.size))
            IcebergWrite.rollback(spark, dir, target)
            model = snaps(target)
          }
        case 5 =>
          if (rnd.nextInt(3) == 0) {
            IcebergWrite.expireSnapshots(spark, dir, keepLast = 3)
            val kept = snaps.keys.toSeq.sorted.takeRight(3).toSet + currentSnapshotId
            snaps = snaps.filter { case (k, _) => kept.contains(k) }
          }
        case 6 => // update migrates every row of one partition to another
          val from = s"t${rnd.nextInt(4)}"
          val to = s"t${rnd.nextInt(4)}"
          val n = IcebergWrite.updateWhere(spark, dir, col("tag") === from,
            Seq("tag" -> lit(to)))
          val hits = model.filter(_._2 == from)
          assert(n == hits.size, s"step $step: update count $n != ${hits.size}")
          model ++= hits.keys.map(_ -> to)
        case 7 => // merge: retags (partition moves) + inserts
          val updates = model.keys.toSeq.sorted
            .filter(_ => rnd.nextBoolean()).take(3)
            .map(id => (id, s"t${rnd.nextInt(4)}"))
          val inserts = freshRows(rnd.nextInt(3))
          val src = updates ++ inserts
          if (src.nonEmpty) {
            val (u, i) = IcebergWrite.merge(spark, dir, src.toDF("id", "tag"), Seq("id"))
            assert(u == updates.size && i == inserts.size,
              s"step $step: merge counts ($u,$i) != (${updates.size},${inserts.size})")
            model ++= src
          }
      }
      sync()
      val got = readIceModel(dir)
      assert(got == model,
        s"step $step: table ${got.size} rows diverged from model ${model.size}")
      // CDC invariant (every 10th step): the snapshot diff from the
      // oldest RECORDED snapshot replays its model into the current one
      if (step % 10 == 0 && snaps.size >= 2) {
        val ids = snaps.keys.toSeq.sorted
        val (from, to) = (ids.head, currentSnapshotId)
        if (from != to) {
          val diff = IcebergScan.changesBetween(spark, dir, from, to).collect()
            .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
          var replay = snaps(from)
          diff.filter(_._3 == "delete").foreach { case (id, _, _) => replay -= id }
          diff.filter(_._3 == "insert").foreach { case (id, tag, _) => replay += id -> tag }
          assert(replay == model,
            s"step $step: snapshot diff $from->$to does not replay the model")
        }
      }
    }
  }

  test("TRANSFORM-PARTITIONED Iceberg: randomized day/month/year/hour/bucket/truncate specs × random ops track the model") {
    // the round-8 surface under the same randomized hardening every
    // other DML track got: tables created under RANDOM transform specs,
    // then the full op mix — position deletes (incl. on the transform
    // SOURCE column, so pruning is in the victim path), CoW and MOR
    // update/merge with PARTITION-MIGRATING assignments (retag moves
    // truncate(tag) dirs, a ts rewrite moves day/hour dirs), compact +
    // zorder folds, rollback/expire across spec'd snapshots, and the
    // snapshot-diff CDC replay. Mid-stream switch to merge-on-read.
    val rnd = new scala.util.Random(190901L)
    val tsPool = Seq(
      "2021-03-05 10:00:00", "2021-03-05 23:30:00", "2021-03-06 00:00:01",
      "2021-04-01 12:00:00", "2021-07-20 07:45:00", "2022-01-15 08:30:00")
      .map(java.sql.Timestamp.valueOf)
    def randTs(): java.sql.Timestamp = tsPool(rnd.nextInt(tsPool.size))
    def randomSpec(): Seq[String] = rnd.nextInt(6) match {
      case 0 => Seq("day(ts)")
      case 1 => Seq("month(ts)", s"bucket(${2 + rnd.nextInt(7)}, id)")
      case 2 => Seq(s"truncate(${1 + rnd.nextInt(2)}, tag)", "day(ts)")
      case 3 => Seq(s"bucket(${2 + rnd.nextInt(7)}, id)")
      case 4 => Seq("hour(ts)")
      case 5 => Seq("year(ts)", s"truncate(${1 + rnd.nextInt(2)}, tag)")
    }

    (1 to 3).foreach { table =>
      var spec = randomSpec()
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_ice_transform_fuzz$table").toString + "/t"
      var model = Map.empty[Long, (String, java.sql.Timestamp)]
      var nextId = 0L
      var snaps = Map.empty[Long, Map[Long, (String, java.sql.Timestamp)]]

      def freshRows(n: Int): Seq[(Long, String, java.sql.Timestamp)] =
        (1 to n).map { _ => nextId += 1; (nextId, s"t${rnd.nextInt(4)}", randTs()) }
      def df(rows: Seq[(Long, String, java.sql.Timestamp)]) =
        rows.toDF("id", "tag", "ts")
      def currentSnapshotId: Long = {
        val hint = java.nio.file.Paths.get(dir, "metadata", "version-hint.text")
        val v = new String(java.nio.file.Files.readAllBytes(hint), "UTF-8").trim
        val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
          new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(dir, "metadata", s"v$v.metadata.json")), "UTF-8"))
        meta.get("current-snapshot-id").asLong()
      }
      def sync(): Unit = snaps += currentSnapshotId -> model
      def readModel(): Map[Long, (String, java.sql.Timestamp)] =
        IcebergScan.read(spark, dir).collect()
          .map(r => r.getLong(0) -> (r.getString(1), r.getTimestamp(2))).toMap

      val r0 = freshRows(6)
      IcebergWrite.create(spark, df(r0), dir, partitionBy = spec)
      model = r0.map(r => r._1 -> (r._2, r._3)).toMap
      sync()

      (1 to 22).foreach { step =>
        // mid-life mode switch: the back half runs the same mix MOR —
        // transform-derived delete-file partitions and migrating MOR
        // images interleave with CoW-era snapshots
        if (step == 12) IcebergWrite.setProperties(spark, dir, Map(
          "write.update.mode" -> "merge-on-read",
          "write.merge.mode" -> "merge-on-read"))
        rnd.nextInt(11) match {
          case 10 => // mid-stream PARTITION-SPEC EVOLUTION: later ops
            // run under the new layout, older files stay conservative,
            // rollback/CDC cross the evolution boundary
            val newSpec = randomSpec()
            IcebergWrite.updatePartitionSpec(spark, dir, newSpec)
            spec = newSpec
          case 0 =>
            val rows = freshRows(1 + rnd.nextInt(4))
            IcebergWrite.append(spark, df(rows), dir)
            model ++= rows.map(r => r._1 -> (r._2, r._3))
          case 1 => // positional delete by tag (truncate-source pruning)
            val tag = s"t${rnd.nextInt(4)}"
            val n = IcebergWrite.deleteWhere(spark, dir, col("tag") === tag)
            val victims = model.filter(_._2._1 == tag)
            assert(n == victims.size, s"spec $spec step $step: posdelete $n != ${victims.size}")
            model --= victims.keys
          case 2 => // positional delete by ts DAY RANGE on the source
            // column — the manifest pruner sits in the victim path
            val d = tsPool(rnd.nextInt(tsPool.size)).toLocalDateTime.toLocalDate
            val lo = java.sql.Timestamp.valueOf(d.atStartOfDay)
            val hi = java.sql.Timestamp.valueOf(d.plusDays(1).atStartOfDay)
            val n = IcebergWrite.deleteWhere(spark, dir,
              col("ts") >= lit(lo) && col("ts") < lit(hi))
            val victims = model.filter { case (_, (_, t)) =>
              t.getTime >= lo.getTime && t.getTime < hi.getTime }
            assert(n == victims.size, s"spec $spec step $step: ts delete $n != ${victims.size}")
            model --= victims.keys
          case 3 => // global equality delete by id keys
            val keys = model.keys.toSeq.sorted.filter(_ => rnd.nextBoolean()).take(3)
            if (keys.nonEmpty) {
              val n = IcebergWrite.deleteEqual(spark, dir, keys.toDF("id"))
              assert(n == keys.size)
              model --= keys
            }
          case 4 =>
            IcebergWrite.compact(spark, dir, smallFileBytes = 1L << 20)
          case 5 => // zorder fold: full rewrite, deletes applied, layout re-derived
            IcebergWrite.zorder(spark, dir, Seq("id"), bitsPerCol = 8, targetFiles = 2)
          case 6 =>
            if (rnd.nextInt(3) == 0) {
              val ids = snaps.keys.toSeq.sorted
              val target = ids(rnd.nextInt(ids.size))
              IcebergWrite.rollback(spark, dir, target)
              model = snaps(target)
            }
          case 7 =>
            if (rnd.nextInt(3) == 0) {
              IcebergWrite.expireSnapshots(spark, dir, keepLast = 3)
              val kept = snaps.keys.toSeq.sorted.takeRight(3).toSet + currentSnapshotId
              snaps = snaps.filter { case (k, _) => kept.contains(k) }
            }
          case 8 => // update; both flavors MIGRATE partitions under some spec
            if (rnd.nextBoolean()) { // retag (moves truncate(tag) dirs)
              val from = s"t${rnd.nextInt(4)}"
              val to = s"t${rnd.nextInt(4)}"
              val n = IcebergWrite.updateWhere(spark, dir, col("tag") === from,
                Seq("tag" -> lit(to)))
              val hits = model.filter(_._2._1 == from)
              assert(n == hits.size, s"spec $spec step $step: update $n != ${hits.size}")
              model ++= hits.map { case (id, (_, t)) => id -> (to, t) }
            } else { // ts rewrite (moves day/month/year/hour dirs)
              val from = s"t${rnd.nextInt(4)}"
              val to = randTs()
              val n = IcebergWrite.updateWhere(spark, dir, col("tag") === from,
                Seq("ts" -> lit(to)))
              val hits = model.filter(_._2._1 == from)
              assert(n == hits.size, s"spec $spec step $step: ts update $n != ${hits.size}")
              model ++= hits.map { case (id, (tg, _)) => id -> (tg, to) }
            }
          case 9 => // merge: retag + re-time a live subset, insert fresh
            val updates = model.keys.toSeq.sorted
              .filter(_ => rnd.nextBoolean()).take(3)
              .map(id => (id, s"t${rnd.nextInt(4)}", randTs()))
            val inserts = freshRows(rnd.nextInt(3))
            val src = updates ++ inserts
            if (src.nonEmpty) {
              val (u, i) = IcebergWrite.merge(spark, dir, df(src), Seq("id"))
              assert(u == updates.size && i == inserts.size,
                s"spec $spec step $step: merge ($u,$i) != (${updates.size},${inserts.size})")
              model ++= src.map(r => r._1 -> (r._2, r._3))
            }
        }
        sync()
        val got = readModel()
        assert(got == model,
          s"spec $spec step $step: table ${got.size} rows diverged from model ${model.size}")
        // pruned-read equivalence (every 7th step): a source-column
        // day filter through the manifest pruner returns exactly the
        // model's subset — whatever partition state the DML left behind
        if (step % 7 == 0) {
          val d = tsPool(step % tsPool.size).toLocalDateTime.toLocalDate
          val lo = java.sql.Timestamp.valueOf(d.atStartOfDay)
          val hi = java.sql.Timestamp.valueOf(d.plusDays(1).atStartOfDay)
          val cond = col("ts") >= lit(lo) && col("ts") < lit(hi)
          val gotSub = IcebergScan.read(spark, dir, skippingFilter = Some(cond))
            .filter(cond).collect()
            .map(r => r.getLong(0) -> (r.getString(1), r.getTimestamp(2))).toMap
          val want = model.filter { case (_, (_, t)) =>
            t.getTime >= lo.getTime && t.getTime < hi.getTime }
          assert(gotSub == want,
            s"spec $spec step $step: pruned day read ${gotSub.size} != model ${want.size}")
        }
        // CDC invariant (every 10th step): diff replay from the oldest
        // recorded snapshot — transform DML must diff as delete+insert
        if (step % 10 == 0 && snaps.size >= 2) {
          val ids = snaps.keys.toSeq.sorted
          val (from, to) = (ids.head, currentSnapshotId)
          if (from != to) {
            val diff = IcebergScan.changesBetween(spark, dir, from, to).collect()
              .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2), r.getString(3)))
            var replay = snaps(from)
            diff.filter(_._4 == "delete").foreach { case (id, _, _, _) => replay -= id }
            diff.filter(_._4 == "insert").foreach { case (id, tg, t, _) => replay += id -> (tg, t) }
            assert(replay == model,
              s"spec $spec step $step: snapshot diff $from->$to does not replay the model")
          }
        }
      }
    }
  }

  test("GENERATED-COLUMN Delta (hidden-partitioning twin): randomized specs × random ops track the model") {
    // the Delta generated-column layout under the same randomized
    // hardening as the Iceberg transform specs: tables created with
    // RANDOM generation specs, then appends (including LYING appends
    // that provide wrong derived values — recomputed, never trusted),
    // deletes on tag and on ts day ranges, updates to unrelated
    // columns, REFUSED updates to generation sources (model unchanged),
    // partition-migrating merges, compact, restore across generated
    // snapshots, and pruned-read equivalence on the SOURCE column.
    val rnd = new scala.util.Random(190902L)
    val tsPool = Seq(
      "2021-03-05 10:00:00", "2021-03-05 23:30:00", "2021-03-06 00:00:01",
      "2021-04-01 12:00:00", "2021-07-20 07:45:00", "2022-01-15 08:30:00")
      .map(java.sql.Timestamp.valueOf)
    def randTs(): java.sql.Timestamp = tsPool(rnd.nextInt(tsPool.size))
    def randomSpec(): Seq[String] = rnd.nextInt(4) match {
      case 0 => Seq("day(ts)")
      case 1 => Seq("month(ts)", s"truncate(${1 + rnd.nextInt(2)}, tag)")
      case 2 => Seq(s"truncate(${1 + rnd.nextInt(2)}, tag)")
      case 3 => Seq("year(ts)", "day(ts)")
    }

    (1 to 3).foreach { table =>
      val spec = randomSpec()
      val specTouchesTag = spec.exists(_.contains("tag"))
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_delta_gen_fuzz$table").toString + "/t"
      var model = Map.empty[Long, (String, java.sql.Timestamp, Long)]
      var nextId = 0L
      var hist = Map.empty[Long, Map[Long, (String, java.sql.Timestamp, Long)]]

      def freshRows(n: Int): Seq[(Long, String, java.sql.Timestamp, Long)] =
        (1 to n).map { _ =>
          nextId += 1
          (nextId, s"t${rnd.nextInt(4)}", randTs(), rnd.nextInt(100).toLong)
        }
      def df(rows: Seq[(Long, String, java.sql.Timestamp, Long)]) =
        rows.toDF("id", "tag", "ts", "score")
      def sync(): Unit = hist += DeltaScan.latestVersion(spark, dir) -> model
      def readModel(): Map[Long, (String, java.sql.Timestamp, Long)] =
        DeltaScan.read(spark, dir).collect().map(r =>
          r.getAs[Long]("id") -> ((r.getAs[String]("tag"),
            r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("score")))).toMap

      val r0 = freshRows(6)
      DeltaWrite.create(spark, df(r0), dir, partitionBy = spec)
      model = r0.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      sync()

      (1 to 20).foreach { step =>
        rnd.nextInt(9) match {
          case 0 => // honest append: source columns only
            val rows = freshRows(1 + rnd.nextInt(4))
            DeltaWrite.append(spark, df(rows), dir)
            model ++= rows.map(r => r._1 -> ((r._2, r._3, r._4)))
          case 1 => // LYING append: wrong derived values provided — recomputed
            val rows = freshRows(1 + rnd.nextInt(3))
            val lying = spec.map(e =>
              graft.sources.IcebergTransforms.parse(e, df(rows).schema))
              .filterNot(_.isIdentity)
              .foldLeft(df(rows)) { (d, pf) =>
                d.withColumn(pf.specName, pf.transform match {
                  case "day" => lit(java.sql.Date.valueOf("1999-01-01"))
                  case "truncate" => lit("zz")
                  case _ => lit(-999)
                })
              }
            DeltaWrite.append(spark, lying, dir)
            model ++= rows.map(r => r._1 -> ((r._2, r._3, r._4)))
          case 2 => // delete by tag
            val tag = s"t${rnd.nextInt(4)}"
            val n = DeltaWrite.deleteWhere(spark, dir, col("tag") === tag)
            val victims = model.filter(_._2._1 == tag)
            assert(n == victims.size, s"spec $spec step $step: delete $n != ${victims.size}")
            model --= victims.keys
          case 3 => // delete by ts DAY RANGE on the generation source
            val d = tsPool(rnd.nextInt(tsPool.size)).toLocalDateTime.toLocalDate
            val lo = java.sql.Timestamp.valueOf(d.atStartOfDay)
            val hi = java.sql.Timestamp.valueOf(d.plusDays(1).atStartOfDay)
            val n = DeltaWrite.deleteWhere(spark, dir,
              col("ts") >= lit(lo) && col("ts") < lit(hi))
            val victims = model.filter { case (_, (_, t, _)) =>
              t.getTime >= lo.getTime && t.getTime < hi.getTime }
            assert(n == victims.size, s"spec $spec step $step: ts delete $n != ${victims.size}")
            model --= victims.keys
          case 4 => // update an UNRELATED column (always legal)
            val k = 20L + rnd.nextInt(60)
            val n = DeltaWrite.updateWhere(spark, dir, col("score") < k,
              Seq("score" -> (col("score") + 1000L)))
            val hits = model.filter(_._2._3 < k)
            assert(n == hits.size, s"spec $spec step $step: update $n != ${hits.size}")
            model ++= hits.map { case (id, (tg, t, s)) => id -> ((tg, t, s + 1000L)) }
          case 5 => // updating a generation source REFUSES; model unchanged
            if (spec.exists(_.contains("ts"))) {
              val e = intercept[IllegalArgumentException](
                DeltaWrite.updateWhere(spark, dir, col("id") > 0L,
                  Seq("ts" -> lit(randTs()))))
              assert(e.getMessage.contains("derives from it"), e.getMessage)
            }
            if (specTouchesTag) {
              val e2 = intercept[IllegalArgumentException](
                DeltaWrite.updateWhere(spark, dir, col("id") > 0L,
                  Seq("tag" -> lit("t0"))))
              assert(e2.getMessage.contains("derives from it"), e2.getMessage)
            }
          case 6 => // merge migrates partition dirs (re-time + retag + insert)
            val updates = model.keys.toSeq.sorted
              .filter(_ => rnd.nextBoolean()).take(3)
              .map(id => (id, s"t${rnd.nextInt(4)}", randTs(), rnd.nextInt(100).toLong))
            val inserts = freshRows(rnd.nextInt(3))
            val src = updates ++ inserts
            if (src.nonEmpty) {
              val (u, i) = DeltaWrite.merge(spark, dir, df(src), Seq("id"))
              assert(u == updates.size && i == inserts.size,
                s"spec $spec step $step: merge ($u,$i) != (${updates.size},${inserts.size})")
              model ++= src.map(r => r._1 -> ((r._2, r._3, r._4)))
            }
          case 7 =>
            DeltaWrite.compact(spark, dir, smallFileBytes = 1L << 20, targetFiles = 1)
          case 8 => // restore to a random recorded version
            val versions = hist.keys.toSeq.sorted
            val v = versions(rnd.nextInt(versions.size))
            DeltaWrite.restore(spark, dir, v)
            model = hist(v)
        }
        sync()
        val got = readModel()
        assert(got == model,
          s"spec $spec step $step: table ${got.size} rows diverged from model ${model.size}")
        // pruned-read equivalence on the SOURCE column every 7th step
        if (step % 7 == 0) {
          val d = tsPool(step % tsPool.size).toLocalDateTime.toLocalDate
          val lo = java.sql.Timestamp.valueOf(d.atStartOfDay)
          val hi = java.sql.Timestamp.valueOf(d.plusDays(1).atStartOfDay)
          val cond = col("ts") >= lit(lo) && col("ts") < lit(hi)
          val gotSub = DeltaScan.read(spark, dir, skippingFilter = Some(cond))
            .collect().map(r => r.getAs[Long]("id")).toSet
          val want = model.filter { case (_, (_, t, _)) =>
            t.getTime >= lo.getTime && t.getTime < hi.getTime }.keySet
          assert(gotSub == want,
            s"spec $spec step $step: pruned day read ${gotSub.size} != model ${want.size}")
        }
      }
    }
  }

  test("GENERATED-COLUMN Delta OCC fuzz: raced DMLs on the generated layout track the serial outcome") {
    // the Delta OCC fuzz shape on a generated-column-partitioned table:
    // losers plan pre-race, a random winner (derived append / position
    // delete of a winner-only tag) commits inside the commit window;
    // the engine may COMMUTE (scope-provably disjoint) or ABORT — both
    // must equal the serial model. Every write in the race derives its
    // generated columns.
    val rnd = new scala.util.Random(90929L)
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_gen_occ").toString + "/t"
    val tsPool = Seq(
      "2021-03-05 10:00:00", "2021-03-06 00:00:01", "2021-04-01 12:00:00",
      "2022-01-15 08:30:00").map(java.sql.Timestamp.valueOf)
    def randTs(): java.sql.Timestamp = tsPool(rnd.nextInt(tsPool.size))
    var model = Map.empty[Long, (String, java.sql.Timestamp, Long)]
    var nextId = 0L
    def freshRows(n: Int, tags: Seq[String]): Seq[(Long, String, java.sql.Timestamp, Long)] =
      (1 to n).map { _ =>
        nextId += 1
        (nextId, tags(rnd.nextInt(tags.size)), randTs(), rnd.nextInt(100).toLong)
      }
    def df(rows: Seq[(Long, String, java.sql.Timestamp, Long)]) =
      rows.toDF("id", "tag", "ts", "score")
    val winnerTags = Seq("t0", "t1")
    val loserTags = Seq("t2", "t3", "t4")

    val r0 = freshRows(8, winnerTags ++ loserTags)
    DeltaWrite.create(spark, df(r0), dir,
      partitionBy = Seq("day(ts)", "truncate(1, tag)"))
    model = r0.map(r => r._1 -> ((r._2, r._3, r._4))).toMap

    (1 to 20).foreach { step =>
      var afterWinner = model
      val winner: () => Unit = rnd.nextInt(3) match {
        case 0 => // derived append
          val rows = freshRows(1 + rnd.nextInt(3), winnerTags ++ loserTags)
          afterWinner = model ++ rows.map(r => r._1 -> ((r._2, r._3, r._4)))
          () => DeltaWrite.append(spark, df(rows), dir)
        case 1 => // delete of a winner-only tag
          val tag = winnerTags(rnd.nextInt(winnerTags.size))
          afterWinner = model.filterNot(_._2._1 == tag)
          () => { DeltaWrite.deleteWhere(spark, dir, col("tag") === tag); () }
        case 2 => () => ()
      }
      var winnerRan = false
      DeltaWrite.beforeDmlCommit =
        () => { DeltaWrite.beforeDmlCommit = () => (); winnerRan = true; winner() }
      def base = if (winnerRan) afterWinner else model
      val outcome: Either[Unit, Map[Long, (String, java.sql.Timestamp, Long)]] =
        try Right(rnd.nextInt(3) match {
          case 0 => // delete by loser tag
            val tag = loserTags(rnd.nextInt(loserTags.size))
            val n = DeltaWrite.deleteWhere(spark, dir, col("tag") === tag)
            val victims = model.filter(_._2._1 == tag)
            assert(n == victims.size, s"step $step: delete count $n != ${victims.size}")
            base -- victims.keys
          case 1 => // legal update (unrelated column)
            val k = 20L + rnd.nextInt(60)
            val n = DeltaWrite.updateWhere(spark, dir, col("score") < k,
              Seq("score" -> (col("score") + 1000L)))
            val hits = model.filter(_._2._3 < k)
            assert(n == hits.size, s"step $step: update count $n != ${hits.size}")
            base ++ hits.map { case (id, (tg, t, s)) => id -> ((tg, t, s + 1000L)) }
          case 2 =>
            DeltaWrite.compact(spark, dir, smallFileBytes = 1L << 20, targetFiles = 1)
            base
        })
        catch { case _: java.util.ConcurrentModificationException => Left(()) }
        finally DeltaWrite.beforeDmlCommit = () => ()
      model = outcome.getOrElse(base)
      val got = DeltaScan.read(spark, dir).collect().map(r =>
        r.getAs[Long]("id") -> ((r.getAs[String]("tag"),
          r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("score")))).toMap
      assert(got == model,
        s"step $step (${if (outcome.isRight) "committed" else "aborted"}): " +
          s"table ${got.size} rows diverged from model ${model.size}")
    }
  }

  test("TRANSFORM-PARTITIONED Iceberg OCC fuzz: raced DMLs abort or commit to the serial outcome") {
    // the Delta OCC fuzz shape on a hidden-partitioned Iceberg table:
    // every loser DML plans against the pre-race snapshot; a random
    // winner (append, or a position delete of a winner-only tag)
    // commits inside the commit window via the beforeCommit hook. graft
    // Iceberg DMLs never auto-retry — a raced commit must throw
    // ConcurrentModificationException (abort), and either way the table
    // must equal the serial model: winner first, then the loser's
    // pre-race plan iff it committed.
    val rnd = new scala.util.Random(90919L)
    val dir = java.nio.file.Files.createTempDirectory("graft_ice_occ_tfuzz").toString + "/t"
    val tsPool = Seq(
      "2021-03-05 10:00:00", "2021-03-06 00:00:01", "2021-04-01 12:00:00",
      "2022-01-15 08:30:00").map(java.sql.Timestamp.valueOf)
    def randTs(): java.sql.Timestamp = tsPool(rnd.nextInt(tsPool.size))
    var model = Map.empty[Long, (String, java.sql.Timestamp)]
    var nextId = 0L
    def freshRows(n: Int, tags: Seq[String]): Seq[(Long, String, java.sql.Timestamp)] =
      (1 to n).map { _ =>
        nextId += 1
        (nextId, tags(rnd.nextInt(tags.size)), randTs())
      }
    def df(rows: Seq[(Long, String, java.sql.Timestamp)]) = rows.toDF("id", "tag", "ts")
    val winnerTags = Seq("t0", "t1")
    val loserTags = Seq("t2", "t3", "t4")

    val r0 = freshRows(8, winnerTags ++ loserTags)
    IcebergWrite.create(spark, df(r0), dir,
      partitionBy = Seq("day(ts)", "truncate(1, tag)"))
    model = r0.map(r => r._1 -> (r._2, r._3)).toMap

    (1 to 20).foreach { step =>
      var afterWinner = model
      val winner: () => Unit = rnd.nextInt(3) match {
        case 0 => // append
          val rows = freshRows(1 + rnd.nextInt(3), winnerTags ++ loserTags)
          afterWinner = model ++ rows.map(r => r._1 -> (r._2, r._3))
          () => IcebergWrite.append(spark, df(rows), dir)
        case 1 => // position delete of a winner-only tag
          val tag = winnerTags(rnd.nextInt(winnerTags.size))
          afterWinner = model.filterNot(_._2._1 == tag)
          () => { IcebergWrite.deleteWhere(spark, dir, col("tag") === tag); () }
        case 2 => // no racer this round
          () => ()
      }
      // a loser that matches nothing returns WITHOUT committing — the
      // hook never fires and the winner never ran; track that
      var winnerRan = false
      IcebergWrite.beforeCommit =
        () => { IcebergWrite.beforeCommit = () => (); winnerRan = true; winner() }
      def base = if (winnerRan) afterWinner else model
      val outcome: Either[Unit, Map[Long, (String, java.sql.Timestamp)]] =
        try Right(rnd.nextInt(4) match {
          case 0 => // position delete by loser tag
            val tag = loserTags(rnd.nextInt(loserTags.size))
            val n = IcebergWrite.deleteWhere(spark, dir, col("tag") === tag)
            val victims = model.filter(_._2._1 == tag)
            assert(n == victims.size, s"step $step: delete count $n != ${victims.size}")
            base -- victims.keys
          case 1 => // CoW ts-migrating update on a loser tag
            val tag = loserTags(rnd.nextInt(loserTags.size))
            val to = randTs()
            val n = IcebergWrite.updateWhere(spark, dir, col("tag") === tag,
              Seq("ts" -> lit(to)))
            val hits = model.filter(_._2._1 == tag)
            assert(n == hits.size, s"step $step: update count $n != ${hits.size}")
            base ++ hits.map { case (id, (tg, _)) => id -> (tg, to) }
          case 2 =>
            IcebergWrite.compact(spark, dir, smallFileBytes = 1L << 20)
            base
          case 3 =>
            IcebergWrite.zorder(spark, dir, Seq("id"), bitsPerCol = 8, targetFiles = 2)
            base
        })
        catch { case _: java.util.ConcurrentModificationException => Left(()) }
        finally IcebergWrite.beforeCommit = () => ()
      model = outcome.getOrElse(base)
      val got = IcebergScan.read(spark, dir).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getTimestamp(2))).toMap
      assert(got == model,
        s"step $step (${if (outcome.isRight) "committed" else "aborted"}): " +
          s"table ${got.size} rows diverged from model ${model.size}")
    }
  }

  // ---- two interleaved writers ---------------------------------------

  /** one format's DML surface for [[twoWriters]] */
  private final case class Writer(name: String,
      create: (org.apache.spark.sql.DataFrame, String) => Unit,
      append: (org.apache.spark.sql.DataFrame, String) => Unit,
      delete: (String, org.apache.spark.sql.Column) => Long,
      update: (String, org.apache.spark.sql.Column) => Long,
      merge: (String, org.apache.spark.sql.DataFrame) => (Long, Long),
      read: String => Map[Long, (String, Long)],
      /** commits in the table's history */
      commits: String => Long)

  /** Two writers on one table, each a thread running `steps` random
    * DMLs through the shared session on its own id range. Their rows
    * never share a file (no compaction runs), so a committed op's
    * effect depends on its own writer's rows alone: the table must end
    * as each writer's model after exactly the ops it committed, in the
    * order it committed them, and the table's history must hold exactly
    * one commit per committed op. An op that loses a race must surface
    * the existing refusal, ConcurrentModificationException, and change
    * nothing. */
  private def twoWriters(w: Writer, seed: Long, steps: Int): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_two_writers_${w.name}")
      .toString + "/t"
    def rowsOf(m: Seq[(Long, (String, Long))]) =
      m.map { case (id, (t, sc)) => (id, t, sc) }.toDF("id", "tag", "score").coalesce(1)
    val models = Array.tabulate(2)(k =>
      (1L to 6L).map(i => (k * 1000000L + i) -> (s"t${i % 3}", i * 10L)).toMap)
    w.create(rowsOf(models(0).toSeq), dir)
    w.append(rowsOf(models(1).toSeq), dir)
    val committed = new java.util.concurrent.atomic.AtomicInteger(2)
    val refused = new java.util.concurrent.atomic.AtomicInteger(0)

    def writer(k: Int): Unit = {
      val rnd = new scala.util.Random(seed + k)
      val lo = k * 1000000L
      val inRange = col("id") >= lo && col("id") < lo + 1000000L
      var next = lo + 100L
      (1 to steps).foreach { step =>
        val m = models(k)
        val what = s"writer $k step $step"
        // the op, and the model after it with whether it commits
        val (op, after, commits): (() => Unit, Map[Long, (String, Long)], Boolean) =
          rnd.nextInt(4) match {
            case 0 =>
              val rows = (1 to 1 + rnd.nextInt(3)).map { _ =>
                next += 1; next -> (s"t${rnd.nextInt(3)}", rnd.nextInt(100).toLong) }
              (() => w.append(rowsOf(rows), dir), m ++ rows, true)
            case 1 =>
              val tag = s"t${rnd.nextInt(3)}"
              val gone = m.filter(_._2._1 == tag)
              (() => assert(w.delete(dir, inRange && col("tag") === tag) == gone.size,
                s"$what delete count"), m -- gone.keys, gone.nonEmpty)
            case 2 =>
              val k2 = 20L + rnd.nextInt(60)
              val hits = m.filter(_._2._2 < k2)
              (() => assert(w.update(dir, inRange && col("score") < k2) == hits.size,
                s"$what update count"),
                m ++ hits.map { case (id, (t, sc)) => id -> (t, sc + 1000L) }, hits.nonEmpty)
            case 3 =>
              val upd = m.keys.toSeq.sorted.filter(_ => rnd.nextBoolean()).take(2)
                .map(id => id -> ("m", rnd.nextInt(100).toLong))
              val ins = (1 to 1 + rnd.nextInt(2)).map { _ =>
                next += 1; next -> ("m", rnd.nextInt(100).toLong) }
              (() => assert(w.merge(dir, rowsOf(upd ++ ins)) == ((upd.size.toLong, ins.size.toLong)),
                s"$what merge counts"), m ++ upd ++ ins, true)
          }
        try {
          op()
          models(k) = after
          if (commits) committed.incrementAndGet()
        } catch { case _: java.util.ConcurrentModificationException => refused.incrementAndGet() }
      }
    }

    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val done = (0 until 2).map(k => pool.submit(new Runnable { def run(): Unit = writer(k) }))
      done.foreach(_.get(10, java.util.concurrent.TimeUnit.MINUTES))
    } finally pool.shutdown()
    val got = w.read(dir)
    assert(got == models(0) ++ models(1),
      s"${w.name}: the table diverged from the writers' models " +
        s"(${committed.get} commits, ${refused.get} refused)")
    assert(w.commits(dir) == committed.get,
      s"${w.name}: ${w.commits(dir)} commits for ${committed.get} committed ops")
  }

  test("Delta: two interleaved writers each track their own model, every commit exactly once") {
    twoWriters(Writer("delta",
      (df, d) => DeltaWrite.create(spark, df, d), (df, d) => DeltaWrite.append(spark, df, d),
      (d, c) => DeltaWrite.deleteWhere(spark, d, c),
      (d, c) => DeltaWrite.updateWhere(spark, d, c, Seq("score" -> (col("score") + 1000L))),
      (d, src) => DeltaWrite.merge(spark, d, src, Seq("id")),
      readDeltaModel, d => DeltaScan.latestVersion(spark, d) + 1L), seed = 55201L, steps = 8)
  }

  test("Iceberg copy-on-write: two interleaved writers each track their own model, " +
      "every commit exactly once") {
    twoWriters(Writer("iceberg",
      (df, d) => IcebergWrite.create(spark, df, d), (df, d) => IcebergWrite.append(spark, df, d),
      (d, c) => IcebergWrite.deleteWhere(spark, d, c),
      (d, c) => IcebergWrite.updateWhere(spark, d, c, Seq("score" -> (col("score") + 1000L))),
      (d, src) => IcebergWrite.merge(spark, d, src, Seq("id")),
      d => IcebergScan.read(spark, d).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap,
      d => IcebergScan.latestMetadataVersion(spark, d).toLong), seed = 55301L, steps = 8)
  }
}
