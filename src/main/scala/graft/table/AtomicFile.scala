package graft.table

import java.nio.file.{Files, Path, StandardCopyOption}

/** Crash-safe small-file replace: readers see the old content or the new,
  * never a torn write. The content lands in a `.tmp-*` sibling first (same
  * directory, so the same file system) and then renames over the target.
  */
object AtomicFile {
  def write(path: Path, content: String): Unit = {
    val tmp = Files.createTempFile(path.getParent, ".tmp-", "")
    try {
      Files.writeString(tmp, content)
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }
}
