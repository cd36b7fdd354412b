package graft

import java.util.concurrent.{BrokenBarrierException, CyclicBarrier, Executors, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.AtomicFiles

/** A conditional publish is put-if-absent: of writers racing to one
  * path, exactly one wins. A publish on the local filesystem leaves no
  * checksum sidecar. */
class AtomicFilesSpec extends AnyFunSuite {

  test("two writers racing a conditional publish to one path: exactly one wins") {
    val conf = new Configuration()
    CountingFileSystem.register(conf)
    val dir = CountingFileSystem.tempDir("graft_atomic_race")
    val fs = new Path(dir).getFileSystem(conf)
    val pool = Executors.newFixedThreadPool(2)
    try {
      (0 until 5).foreach { i =>
        val file = new Path(dir, s"$i.json")
        // hold each writer at its rename, past the absent-target check,
        // until the other arrives or a timeout says it cannot
        val barrier = new CyclicBarrier(2)
        CountingFileSystem.beforeRename = () =>
          try barrier.await(500, TimeUnit.MILLISECONDS)
          catch { case _: TimeoutException | _: BrokenBarrierException => () }
        val wins = new AtomicInteger(0)
        val writers = (0 until 2).map { w =>
          pool.submit(new Runnable {
            def run(): Unit =
              try {
                AtomicFiles.publishUtf8(fs, file, s"writer $w", overwrite = false)
                wins.incrementAndGet()
              } catch { case _: java.io.IOException => () }
          })
        }
        writers.foreach(_.get(60, TimeUnit.SECONDS))
        assert(wins.get() == 1, s"round $i: ${wins.get()} writers published $file")
      }
    } finally {
      CountingFileSystem.beforeRename = () => ()
      pool.shutdown()
    }
  }

  test("a publish on the local filesystem leaves no .crc sidecar behind") {
    val dir = java.nio.file.Files.createTempDirectory("graft_atomic_crc")
    // the checksummed local filesystem, as `file:` paths resolve
    val fs = FileSystem.getLocal(new Configuration())
    val file = new Path(dir.toUri.toString, "_last_checkpoint")
    AtomicFiles.publishUtf8(fs, file, "first", overwrite = false)
    AtomicFiles.publishUtf8(fs, file, "second", overwrite = true)
    assert(dir.toFile.list().toSet == Set("_last_checkpoint"),
      s"a publish left more than its file: ${dir.toFile.list().mkString(", ")}")
    // a tool rewriting the file in place leaves it readable
    java.nio.file.Files.write(dir.resolve("_last_checkpoint"), "third".getBytes("UTF-8"))
    val in = fs.open(file)
    try assert(new String(in.readAllBytes(), "UTF-8") == "third") finally in.close()
  }
}
