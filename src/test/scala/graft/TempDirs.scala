package graft

import org.apache.commons.io.FileUtils

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

/** Temporary directories for specs. Each one is deleted, tree and all, by
  * a single JVM shutdown hook: `File.deleteOnExit` never deletes a
  * non-empty directory, so it would leave every parquet output behind. */
object TempDirs {
  private val dirs = new ConcurrentLinkedQueue[Path]

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    dirs.forEach(p => FileUtils.deleteQuietly(p.toFile))))

  def create(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    dirs.add(p)
    p
  }
}
