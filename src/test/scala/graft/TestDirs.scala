package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

/** Temp-tree clean-up for the specs. */
object TestDirs {

  /** Delete `root` and everything under it; a missing root is a no-op. */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally paths.close()
    }
}
