package graft

import java.io.File
import java.nio.file.{Files, Path}

/** Local scratch directories for the harness, the sinks and the sources:
  * one allocation with JVM-exit cleanup and one recursive delete. */
object Scratch {

  /** A fresh temp directory, deleted recursively when the JVM exits. */
  def dir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    sys.addShutdownHook(rm(p.toFile))
    p
  }

  /** Delete a local file or directory tree. */
  def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
    ()
  }
}
