package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Local-filesystem accounting for the amplification metrics. */
object FsUtil {
  /** Regular files under `dir` (path → bytes); empty if it is absent. */
  def files(dir: String): Seq[(String, Long)] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toList
      finally walk.close()
    }
  }

  def bytes(dir: String): Long = files(dir).map(_._2).sum

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally walk.close()
    }
  }
}
