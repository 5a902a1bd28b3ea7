package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Byte copies of a snapshot store, so a fixture built once can be failed
  * and resumed many times.
  */
object StoreCopy {
  /** A copy of the store under `src` whose manifests name the copy's own
    * data files (manifests record absolute paths).
    */
  def apply(src: Path): Path = {
    val dst = Files.createTempDirectory("graft-store-copy")
    val walk = Files.walk(src)
    try walk.iterator.asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else if (p.getFileName.toString.startsWith("snapshot-"))
        Files.writeString(q, Files.readString(p).replace(src.toString, dst.toString))
      else Files.copy(p, q)
    } finally walk.close()
    dst
  }
}
