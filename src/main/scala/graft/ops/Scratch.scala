package graft.ops

import java.nio.file.{Files, Path}

/** Where the oracle-checked queries make their throwaway warehouses and
  * staging dirs. The frames a query returns still read those dirs after
  * it returns, so no query can delete its own: [[scoped]] puts every dir
  * of a run under one root and deletes that tree when the run ends.
  * Outside [[scoped]] the dirs go to the system temp dir.
  */
object Scratch {
  @volatile private var root: Option[Path] = None

  def dir(prefix: String): Path =
    root.fold(Files.createTempDirectory(prefix))(Files.createTempDirectory(_, prefix))

  def scoped[T](body: => T): T = {
    val r = Files.createTempDirectory("graft_run")
    root = Some(r)
    try body
    finally { root = None; org.apache.commons.io.FileUtils.deleteDirectory(r.toFile) }
  }
}
