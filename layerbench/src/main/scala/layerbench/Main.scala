package layerbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{GraftSession, SparkEntry, Tables}

/** One benchmark JVM: a single closed-loop client over the engine's
  * judged queries (`SparkEntry.queries`), each run as its builder call
  * followed by the noop-sink action `graft.Bench` times.
  *
  * Set-up is the session start plus one untimed check pass over the
  * workload's queries, which digests every output. Then `--passes`
  * timed passes run over the queries, in the given order, and the host
  * anchors are taken last. With `--trace 1` the timed passes also carry the
  * per-layer counters of [[Trace]]. Everything goes to `--out` as JSON;
  * the Python runner turns it into metrics.
  *
  * Usage: `Main --dir <fixtures> --queries a,b,c
  *   --passes <n> --trace 0|1 --cores <n> --out <file>` */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = opt("dir")
    val names = opt("queries").split(",").toSeq
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val out = mutable.LinkedHashMap.empty[String, Any]

    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores)
    out("session_start_s") = secsSince(t0)

    val w0 = System.nanoTime()
    out("digests") = names.map { n =>
      n -> (try Digest.of(SparkEntry.queries(n)(spark, dir))
            catch { case e: Throwable => s"error: ${e.getClass.getSimpleName}: ${e.getMessage}" })
    }.toMap
    out("warm_s") = secsSince(w0)
    out("setup_done_ms") = System.currentTimeMillis()

    measure(spark, dir, names, opt("passes").toInt, traced, cores, out)
    spark.stop()
    Files.writeString(Paths.get(opt("out")), Json(out))
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def measure(spark: SparkSession, dir: String, names: Seq[String], nPasses: Int,
                      traced: Boolean, cores: Int, out: mutable.Map[String, Any]): Unit = {
    val trace = if (traced) Some(new Trace(spark)) else None
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
    val batchS = mutable.ArrayBuffer.empty[Double]
    (1 to nPasses).foreach { _ =>
      val p0 = System.nanoTime()
      val cpuP = processCpuS()
      val io0 = writeBytes()
      val passExecs = mutable.ArrayBuffer.empty[Map[String, Any]]
      val passCalls = names.map { n =>
        val call = trace.map(_.begin(n))
        // the two phases are timed apart so that a traced run's drain
        // between them counts in neither
        var t0 = System.nanoTime()
        var buildS, actionS = 0.0
        val error = try {
          val df = SparkEntry.queries(n)(spark, dir)
          buildS = secsSince(t0)
          trace.foreach(_.acting(df))
          t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          actionS = secsSince(t0)
          None
        } catch { case e: Throwable =>
          if (buildS == 0.0) buildS = secsSince(t0) else actionS = secsSince(t0)
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        trace.foreach(_.end())
        passExecs += Map("pass" -> passes.size, "query" -> n, "latency_s" -> (buildS + actionS),
          "build_s" -> buildS, "action_s" -> actionS, "error" -> error.orNull)
        call
      }
      val wallS = secsSince(p0)
      def sum(k: String) = passExecs.map(_(k).asInstanceOf[Double]).sum
      val rec = mutable.LinkedHashMap[String, Any]("wall_s" -> wallS,
        "cpu_s" -> (processCpuS() - cpuP), "proc.disk_write_mb" -> (writeBytes() - io0) / 1048576.0,
        "operators.build_s" -> sum("build_s"), "operators.action_s" -> sum("action_s"))
      execs ++= passExecs
      val done = passCalls.flatten
      if (done.nonEmpty) {
        val sums = mutable.LinkedHashMap.empty[String, Double]
        done.foreach(_.m.foreach { case (k, v) => sums(k) = sums.getOrElse(k, 0.0) + v })
        rec ++= sums
        rec("exec.no_task_s") = wallS - done.map(_.coveredMs).sum / 1e3
        rec("exec.task_run_s") = done.map(_.taskRunMs).sum / 1e3
        done.zip(passExecs).foreach { case (c, e) =>
          batchS ++= c.batchS
          calls += e ++ c.m ++ Map("exec.no_task_s" -> ((c.endMs - c.startMs - c.coveredMs) / 1e3))
        }
      }
      passes += rec.toMap
    }
    out("peak_rss_mb") = procField("/proc/self/status", "VmHWM:") / 1024.0
    out("passes") = passes.toSeq
    out("execs") = execs.toSeq
    if (traced) {
      out("calls") = calls.toSeq
      out("batch_s") = batchS.toSeq
      out("scan_s") = median((1 to 3).map(_ => scanAll(spark, dir)))
    }
    out("anchor_s") = Anchors.cpu(spark, cores)
    out("io_anchor_s") = Anchors.io()
  }

  /** One noop scan of every fixture table through the engine's loaders. */
  private def scanAll(spark: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    Tables.all.filter(t => Files.exists(Paths.get(s"$dir/$t.parquet"))).foreach { t =>
      val df = if (t == "events") Tables.events(spark, dir) else Tables(spark, dir, t)
      df.write.format("noop").mode("overwrite").save()
    }
    secsSince(t0)
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def writeBytes(): Double = procField("/proc/self/io", "write_bytes:")

  /** The first number on the line of a /proc file that starts with `key`. */
  private def procField(file: String, key: String): Double =
    try {
      val lines = Files.readAllLines(Paths.get(file)).toArray(Array.empty[String])
      lines.find(_.startsWith(key))
        .map(_.stripPrefix(key).trim.split("\\s+")(0).toDouble).getOrElse(0.0)
    } catch { case _: java.io.IOException => 0.0 }
}

/** An output digest that ignores row order: the row count and the sum,
  * modulo 2^64, of a 64-bit hash of each row's normalized text. Floating
  * values are written with 12 significant digits, so a result that only
  * differs in the last bits of a sum still matches. */
object Digest {
  def of(df: DataFrame): String = {
    val (n, h) = df.rdd.map(rowHash).aggregate((0L, 0L))(
      (a, x) => (a._1 + 1, a._2 + x), (a, b) => (a._1 + b._1, a._2 + b._2))
    f"$n%d:$h%016x"
  }

  def rowHash(r: Row): Long = {
    val s = norm(r)
    val hi = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
    val lo = scala.util.hashing.MurmurHash3.stringHash(s, 0x7f4a7c15)
    (hi.toLong << 32) | (lo & 0xffffffffL)
  }

  def norm(v: Any): String = v match {
    case null                          => "∅"
    case d: Double                     => num(d)
    case f: Float                      => num(f.toDouble)
    case r: Row                        => r.toSeq.map(norm).mkString("(", ",", ")")
    case b: Array[Byte]                => b.map(x => f"$x%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + "->" + norm(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_]    => s.map(norm).mkString("[", ",", "]")
    case t: java.sql.Timestamp         => t.toInstant.toString
    case o                             => o.toString
  }

  private def num(d: Double): String =
    if (d == 0.0) "0"
    else if (d.isNaN || d.isInfinite) d.toString
    else String.format(java.util.Locale.ROOT, "%.12g", Double.box(d))
}

/** `graft.Bench`'s two host anchors, rerun in this JVM so each run
  * carries the host speed it was measured on. */
object Anchors {
  /** 200M xxhash64 bit counts summed over range(): CPU only, min of 3. */
  def cpu(spark: SparkSession, cores: Int): Double = {
    import org.apache.spark.sql.functions.{bit_count, col, sum, xxhash64}
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 200000000L, 1L, cores)
        .select(sum(bit_count(xxhash64(col("id"))).cast("long"))).head()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    (1 to 3).map(_ => once()).min
  }

  /** 64 sequential 64 KiB create+write+fsync files in java.io.tmpdir, min of 3. */
  def io(): Double = {
    def once(): Double = {
      val dir = Files.createTempDirectory("layerbench_io_anchor")
      try {
        val buf = java.nio.ByteBuffer.allocate(65536)
        val t0 = System.nanoTime()
        (1 to 64).foreach { i =>
          val ch = java.nio.channels.FileChannel.open(dir.resolve(s"f$i"),
            StandardOpenOption.CREATE, StandardOpenOption.WRITE)
          try { buf.rewind(); ch.write(buf); ch.force(true) } finally ch.close()
        }
        (System.nanoTime() - t0) / 1e9
      } finally deleteTree(dir)
    }
    once()
    (1 to 3).map(_ => once()).min
  }

  private def deleteTree(p: Path): Unit =
    new scala.reflect.io.Directory(p.toFile).deleteRecursively()
}

/** Just enough JSON for the runner: maps, sequences, numbers, strings. */
object Json {
  def apply(v: Any): String = v match {
    case null | None                => "null"
    case Some(x)                    => apply(x)
    case s: String                  => quote(s)
    case b: Boolean                 => b.toString
    case d: Double                  => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int                     => n.toString
    case n: Long                    => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]             => s.map(apply).mkString("[", ",", "]")
    case o                          => quote(o.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
}
