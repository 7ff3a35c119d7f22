package graft.store

import java.nio.file.{Files, Paths, StandardCopyOption}

/** A version number committed to one small file under `dir` — the
  * commit point of every marker-committed layout here (a
  * [[VersionedTable]]'s `_latest`, a streaming state's `_current` and
  * `_compacted`, an ANN index's `_indexed_version`). The value is
  * written to a uniquely named temp file and renamed over `name`
  * atomically, so a reader sees the old value or the new one, never a
  * torn write, and two concurrent commits never share a temp file.
  */
private[graft] object Marker {

  def read(dir: String, name: String): Option[Long] = {
    val p = Paths.get(dir, name)
    if (Files.exists(p))
      Some(new String(Files.readAllBytes(p), "UTF-8").trim.toLong)
    else None
  }

  def commit(dir: String, name: String, v: Long): Unit = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val tmp = Files.createTempFile(d, s"${name}_", ".tmp")
    Files.write(tmp, v.toString.getBytes("UTF-8"))
    Files.move(tmp, d.resolve(name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}
