package graft

/** Driver-local scratch directories for queries that persist an
  * intermediate store (q262/q263/q268).
  *
  * Two leaks this exists to close (ADVICE r12): a fresh
  * `Files.createTempDirectory` per invocation accumulates one
  * corpus-sized parquet tree per verify/bench iteration, unbounded
  * under /tmp; and nothing ever deleted them. Here each NAMED scratch
  * is a fixed location wiped and recreated on every call — repeated
  * runs reuse the same footprint instead of growing it — and one JVM
  * shutdown hook removes the whole scratch root.
  *
  * `java.io.File` is correct at THIS layer (unlike the store
  * maintenance paths): scratch is driver-local temp space by
  * definition, never HDFS/object-store state.
  *
  * The root is PID-scoped (ADVICE r13): a shared fixed root let two
  * concurrent graft JVMs (Verify beside Bench, parallel test forks)
  * wipe each other's live scratch mid-read, and the first JVM to exit
  * deleted the other's root from under it. Per-process roots keep the
  * fixed-footprint reuse WITHIN a JVM while making cross-JVM collision
  * impossible; each process's shutdown hook removes only its own
  * root — and because a SIGKILLed/OOM-killed JVM never runs its hook,
  * the first `dir()` call also sweeps sibling roots whose owning pid
  * is dead, so crashed runs cannot accumulate orphaned corpus-sized
  * trees under /tmp (the exact leak class the fixed root closed). */
object Scratch {
  private val hooked = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def base = new java.io.File(
    System.getProperty("java.io.tmpdir"),
    s"graft-scratch-${ProcessHandle.current().pid()}")

  /** A fresh (emptied) scratch directory at a stable per-name path. */
  def dir(name: String): String = {
    if (hooked.compareAndSet(false, true)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => delete(base)))
      sweepOrphans()
    }
    val d = new java.io.File(base, name)
    delete(d)
    d.mkdirs()
    d.toString
  }

  /** Delete graft-scratch-<pid> roots whose pid no longer exists — the
    * unclean-exit leftovers no shutdown hook could remove. A LIVE
    * sibling's root is never touched (its pid resolves), preserving
    * the concurrent-JVM safety the per-pid scoping bought.
    * Package-private for the spec: the production trigger is the
    * first [[dir]] call of the JVM, which a shared test JVM has
    * already spent. */
  private[graft] def sweepOrphans(): Unit = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles()).foreach(_.foreach { f =>
      val n = f.getName
      if (n.startsWith("graft-scratch-") && f.isDirectory) {
        n.stripPrefix("graft-scratch-").toLongOption.foreach { pid =>
          // ProcessHandle.of is empty iff no such native pid exists; a
          // recycled pid reads as alive → conservatively skipped
          val dead = pid != ProcessHandle.current().pid() &&
            ProcessHandle.of(pid).isEmpty
          if (dead) delete(f)
        }
      }
    })
  }

  private def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
    ()
  }
}
