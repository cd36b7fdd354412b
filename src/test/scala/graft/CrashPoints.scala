package graft

import scala.util.control.NonFatal

/** The crash-point fault loop both lakehouse formats run. An operation
  * is crashed at each create and rename of its table log and at each
  * delete of log files or staged data (the k-th, for every k up to a
  * fault-free run's count; [[CountingFileSystem]]) on a fresh copy of
  * a base table. After each crash the table must read as the state
  * before or after the operation, never a mix; an operation the crash
  * undid must re-run to the after state; and a following one-row
  * append must land. */
trait CrashPoints { this: SparkSpec =>

  /** runs the loop for `op`, which takes `before` to `after`; `copyOfBase`
    * yields fresh copies ([[CountingFileSystem.copies]]), `appendRow`
    * appends row 999 → "z". Returns the fault-free run's table. */
  def crashAtEveryMutation(name: String, copyOfBase: () => String,
      state: String => Map[Long, String], before: Map[Long, String],
      after: Map[Long, String], op: String => Unit, appendRow: String => Unit,
      minMutations: Int): String = {
    val clean = copyOfBase()
    CountingFileSystem.failAt(0)
    op(clean)
    val n = CountingFileSystem.mutations.get()
    assert(state(clean) == after, s"$name without a fault")
    assert(n >= minMutations, s"$name made $n mutations")
    (1 to n).foreach { k =>
      val d = copyOfBase()
      CountingFileSystem.failAt(k)
      try op(d) catch { case NonFatal(_) => () }
      finally CountingFileSystem.failAt(0)
      val got = state(d)
      assert(got == before || got == after,
        s"$name with a fault at mutation $k of $n reads a torn state: $got")
      if (got == before) {
        op(d)
        assert(state(d) == after, s"$name re-run after a fault at mutation $k of $n")
      }
      appendRow(d)
      assert(state(d) == after + (999L -> "z"),
        s"append after $name with a fault at mutation $k of $n")
    }
    clean
  }
}
