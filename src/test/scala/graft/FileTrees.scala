package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** File-tree helpers for specs that serve a copied index root. */
object FileTrees {

  /** Copies the tree at `from` to `to`, which must not exist yet. */
  def copy(from: String, to: String): Unit = {
    val src = Paths.get(from)
    scala.util.Using.resource(Files.walk(src)) { s =>
      s.iterator().asScala.foreach { p =>
        val t = Paths.get(to).resolve(src.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      }
    }
  }
}
