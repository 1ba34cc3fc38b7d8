package graft.streaming

import org.apache.spark.sql.DataFrame

/** Query-scoped file staging: the scratch directory a gate writes
  * through ([[scratch]]) and the deterministic file stager of the
  * file-source replay gates ([[stager]]). */
private[graft] object Staging {

  /** The one owner of a query's scratch directory: creates a fresh
    * temp dir named `graft_<tag>…`, materializes `body(dir)` with
    * `localCheckpoint` (so the returned frame never reads the dir),
    * then deletes the dir whether `body` returns or throws — a failed
    * run must not leak its staged copy of a table. */
  def scratch(tag: String)(body: String => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$tag").toString
    try body(dir).localCheckpoint()
    finally {
      val gone = new scala.reflect.io.Directory(new java.io.File(dir))
        .deleteRecursively()
      if (!gone) System.err.println(s"[$tag] temp dir not fully removed: $dir")
    }
  }

  /** Returns a staging function for `dir`: each call writes `part` as
    * one appended parquet file and stamps the new data files with the
    * next mtime step (10 s apart, ending at stager-creation time, so
    * the stamps stay inside FileStreamSource's `maxFileAge` window).
    *
    * Why (v15, v18): `FileStreamSource` orders file discovery by
    * modification time; two slices `append`-written back to back can
    * land with the same coarse-granularity mtime, leaving their
    * relative order to the directory listing — and the gates'
    * correctness arguments assume in-order arrival (v15: later slices
    * carry later event times than the restored watermark; v18: a doc's
    * smaller-id near-dups are in the same or an earlier batch). The
    * stamps make discovery order the staging order regardless of
    * filesystem timestamp granularity. */
  def stager(dir: String): DataFrame => Unit = {
    val stamped = scala.collection.mutable.Set[String]()
    // backdate from "now" so stamps are monotonically increasing but
    // never in the future (a future mtime can stall age-based pruning)
    val base = System.currentTimeMillis() - 3600L * 1000
    var n = 0
    (part: DataFrame) => {
      part.coalesce(1).write.mode("append").parquet(dir)
      n += 1
      val fresh = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".") && !stamped.contains(f.getPath))
      for (f <- fresh) {
        if (!f.setLastModified(base + n * 10000L))
          System.err.println(s"[staging] could not stamp mtime on ${f.getPath}")
        stamped += f.getPath
      }
    }
  }
}
