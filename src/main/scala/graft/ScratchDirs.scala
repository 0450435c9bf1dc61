package graft

/** Per-process scratch directories for sinks, checkpoints and round-trip
  * harnesses — ONE implementation of the isolation rules every consumer
  * needs:
  *
  *  - a PID component isolates concurrent JVMs (a parallel test run and a
  *    bench run of the same query must not delete each other's live
  *    files);
  *  - every fresh() call returns a NEVER-REUSED directory, so a lazy
  *    DataFrame returned by an earlier invocation keeps reading its own
  *    files after a re-run — nothing is wiped or overwritten mid-process;
  *  - a shutdown hook per namespace reclaims everything this process
  *    created, bounding the leak to process lifetime.
  */
object ScratchDirs {

  private val counter = new java.util.concurrent.atomic.AtomicLong(0)
  private val roots = new Memo[java.nio.file.Path]

  /** The per-(namespace, process) root, created on first use. */
  def root(namespace: String): java.nio.file.Path = roots(namespace) {
    val p = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      namespace, s"pid${ProcessHandle.current().pid()}")
    java.nio.file.Files.createDirectories(p)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.reflect.io.Directory
      if (!new Directory(p.toFile).deleteRecursively())
        System.err.println(s"[graft] could not fully remove scratch $p")
    }))
    p
  }

  /** A fresh, never-reused directory under the namespace root. */
  def fresh(namespace: String, name: String): java.nio.file.Path = {
    val p = root(namespace).resolve(s"${name}_${counter.incrementAndGet()}")
    java.nio.file.Files.createDirectories(p)
    p
  }
}
