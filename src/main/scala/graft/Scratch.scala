package graft

import java.nio.file.{Files, Path}

/** Temp-dir factory for the bounded-run harnesses (segment files,
  * punctuated streams, checkpoints, MVCC tables). Every dir is
  * registered for recursive deletion at JVM exit, so repeated
  * Verify/Bench cycles (best-of-3 runs each query 4×) don't
  * accumulate feed copies in /tmp until the box runs dry. */
object Scratch {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    dirs.forEach { d =>
      try {
        Files.walk(d).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { Files.deleteIfExists(p); () })
      } catch { case _: Throwable => () }
    }
  }))

  def dir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    dirs.add(p)
    p
  }

  /** Write `df` as ONE parquet file at `out/name.parquet` and return
    * its row count. The replica generators (dirty/skew/unicode/
    * long-doc/empty) all need single-FILE tables — the DuckDB oracle
    * and the engine must read identical bytes from one path — and
    * each previously carried its own copy of this block, which had
    * already diverged (only one created the parent dir). Handles a
    * pre-existing dst whether file or directory. */
  def writeSingleParquet(df: org.apache.spark.sql.DataFrame,
                         out: String, name: String): Long = {
    val tmp = s"$out/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val dst = java.nio.file.Paths.get(s"$out/$name.parquet")
    Option(dst.getParent).foreach(p => Files.createDirectories(p))
    if (Files.isDirectory(dst))
      org.apache.commons.io.FileUtils.deleteDirectory(dst.toFile)
    else Files.deleteIfExists(dst)
    Files.move(firstParquet(java.nio.file.Paths.get(tmp)), dst)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    df.sparkSession.read.parquet(dst.toString).count()
  }

  /** First `.parquet` under `d`, with the directory stream CLOSED
    * (bare `Files.list(...).iterator()` leaks the OS handle until GC —
    * r9 ADVICE; the bench loop lists thousands of scratch dirs per
    * run, so the leak is real, not stylistic). */
  def firstParquet(d: Path): Path = {
    val s = Files.list(d)
    try {
      val it = s.iterator()
      var found: Path = null
      while (found == null && it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.endsWith(".parquet")) found = p
      }
      require(found != null, s"no .parquet written under $d")
      found
    } finally s.close()
  }

  /** The SINGLE `.parquet` under `d`, failing LOUDLY when the writer
    * emitted more than one (r16 ADVICE: the one-job batch staging moves
    * "the" part file per partition dir — if a writer setting like
    * `spark.sql.files.maxRecordsPerFile` ever splits a partition dir
    * into several files, [[firstParquet]] would silently drop every row
    * outside the first file from the staged stream batch). */
  def onlyParquet(d: Path): Path = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(d)
    try {
      val parts = s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toList
      require(parts.nonEmpty, s"no .parquet written under $d")
      require(parts.size == 1,
        s"expected exactly one .parquet under $d but found ${parts.size} — " +
          "a multi-file partition dir would silently lose rows on staging")
      parts.head
    } finally s.close()
  }
}
