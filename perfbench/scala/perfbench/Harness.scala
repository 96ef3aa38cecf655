package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import graft.blueprints.{Blueprints, Cli}
import graft.core._
import graft.operators.{FileOps, Q, Relational, TextAnalysis}
import graft.sources.FileManifest

/** The benchmark's JVM side: one workload, one fresh JVM, one driver
  * thread, a closed loop with one client (each call starts only when
  * the previous one returned). It builds the session, repeats rounds of
  * the workload's calls until `--seconds` have passed, checks every
  * call's output outside the timed region, and writes one JSON record
  * of raw timings, check outcomes and (with `--trace 1`) spans plus
  * the listener's job and task events. `perfbench/run.py` turns that
  * record into metrics.
  *
  * Usage: Harness --workload W --input DIR --work DIR --seconds S
  *        --trace 0|1 --seed N --out FILE [--pattern REGEX]
  */
object Harness {

  // ---- timing, spans and checks -------------------------------------

  final case class Span(id: Int, parent: Int, layer: String, name: String,
      startMs: Long, endMs: Long, wallS: Double)

  /** One timed call into a layer: its wall plus call-specific facts
    * (file counts, bytes, result rows) the metrics need.
    */
  final case class Call(round: Int, layer: String, name: String,
      wallS: Double, cpuS: Double, facts: Map[String, Double])

  final class Recorder(trace: Boolean, sc: org.apache.spark.SparkContext) {
    val calls = ArrayBuffer.empty[Call]
    val spans = ArrayBuffer.empty[Span]
    private var open = List.empty[Int]
    private var nextId = 0
    var attempted = 0L
    val failures = ArrayBuffer.empty[String]

    /** Time `body` as one call into `layer`. In a traced run the call
      * is also a span, closed only after the listener bus has drained
      * so every job and task event of the call has been recorded.
      */
    /** process CPU seconds of the last [[timed]] call */
    var lastCpuS = 0.0

    def timed[T](round: Int, layer: String, name: String)(body: => T): (T, Double) = {
      nextId += 1
      val id = nextId
      val parent = open.headOption.getOrElse(0)
      if (trace) open = id :: open
      val startMs = System.currentTimeMillis()
      val c0 = processCpuS()
      val t0 = System.nanoTime()
      val out = try body finally {
        if (trace) open = open.tail
      }
      val wall = (System.nanoTime() - t0) / 1e9
      lastCpuS = processCpuS() - c0
      val endMs = System.currentTimeMillis()
      if (trace) {
        org.apache.spark.PerfbenchBus.drain(sc)
        spans += Span(id, parent, layer, name, startMs, endMs, wall)
      }
      (out, wall)
    }

    def record(round: Int, layer: String, name: String, wall: Double,
        facts: (String, Double)*): Unit =
      calls += Call(round, layer, name, wall, lastCpuS, facts.toMap)

    /** heap in use after a full collection at the end of each round */
    val retainedMb = ArrayBuffer.empty[Double]

    /** Ends a round outside the timed region: records the heap the
      * program still holds after a full collection.
      */
    def endRound(): Unit = {
      System.gc()
      retainedMb += java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0
    }

    /** One correctness check; a failure is counted, never dropped. */
    def check(what: String)(ok: => Boolean): Unit = {
      attempted += 1
      try { if (!ok) failures += what }
      catch { case e: Throwable => failures += s"$what: $e" }
    }
  }

  /** Trace-only listener: keeps raw job intervals and task metrics in
    * memory; run.py attributes them to spans by time interval (not by
    * job group, which jobs submitted from pool threads do not carry).
    */
  final class Events extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler._
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]()
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Array[Double]]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.add((e.jobId, jobStart.getOrDefault(e.jobId, e.time), e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null) tasks.add(Array(
        i.launchTime.toDouble, i.finishTime.toDouble,
        m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
        m.inputMetrics.bytesRead.toDouble, m.inputMetrics.recordsRead.toDouble,
        (m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten).toDouble,
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        m.outputMetrics.bytesWritten.toDouble))
    }
  }
  val TaskFields = Seq("launch_ms", "finish_ms", "run_s", "cpu_s", "gc_s",
    "input_bytes", "input_records", "shuffle_bytes", "spill_bytes",
    "output_bytes")

  // ---- sessions -------------------------------------------------------

  /** The session settings graft.Bench times under (Bench.scala). */
  def benchSession(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // ---- small helpers --------------------------------------------------

  def md5Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  /** relative path -> md5 of every regular file under `root`. */
  def digestTree(root: Path): Map[String, String] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> md5Hex(Files.readAllBytes(p)))
        .toMap
      finally s.close()
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def treeBytes(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally s.close()
    }

  /** Order-preserving hash of a collected result, one value per cell. */
  def rowsHash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      md.update(r.toSeq.map(v => if (v == null) "\u0000" else v.toString)
        .mkString("\u0001").getBytes("UTF-8"))
      md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** One result cell as typed JSON for the oracle check: times as
    * epoch microseconds or days, decimals as strings, floats at their
    * exact double value.
    */
  def cell(v: Any): String = v match {
    case null => "null"
    case f: Float => cell(f.toDouble)
    case d: Double =>
      if (d.isNaN || d.isInfinite) js(d.toString) else d.toString
    case t: java.sql.Timestamp =>
      s"""{"us":${Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000}}"""
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      s"""{"us":${i.getEpochSecond * 1000000L + i.getNano / 1000}}"""
    case t: java.time.Instant => s"""{"us":${t.getEpochSecond * 1000000L + t.getNano / 1000}}"""
    case d: java.sql.Date => s"""{"days":${d.toLocalDate.toEpochDay}}"""
    case d: java.time.LocalDate => s"""{"days":${d.toEpochDay}}"""
    case d: java.math.BigDecimal => s"""{"dec":"${d.toPlainString}"}"""
    case d: scala.math.BigDecimal => cell(d.bigDecimal)
    case r: Row => r.toSeq.map(cell).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case other => js(other.toString)
  }

  /** Write a collected result, in order, as JSON lines (column names
    * first) for the oracle check.
    */
  def dumpRows(rows: Array[Row], schema: org.apache.spark.sql.types.StructType,
      file: Path): Unit = {
    val w = Files.newBufferedWriter(file)
    try {
      w.write(js(schema.fieldNames.toSeq)); w.write('\n')
      rows.foreach { r => w.write(cell(r)); w.write('\n') }
    } finally w.close()
  }

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  // ---- JSON output (flat values only) --------------------------------

  def js(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(js).mkString("[", ",", "]")
    case a: Array[_] => a.map(js).mkString("[", ",", "]")
    case other => js(other.toString)
  }

  // ---- workloads --------------------------------------------------------

  /** The reference's own workload: list, upload, download, cold sync,
    * no-change resync, verified resync, move, remove — file:// on the
    * local side, the in-JVM gs:// mock on the bucket side.
    */
  def fileops(spark: SparkSession, rec: Recorder, input: Path, work: Path,
      seconds: Double, pattern: String): Int = {
    val src = input.resolve("tree")
    val gsRoot = work.resolve("gs")
    val dl = work.resolve("download")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.gs.impl", classOf[graft.GsMockFileSystem].getName)
    hc.set("fs.gs.impl.disable.cache", "true")
    hc.set("fs.gs.mock.root", gsRoot.toString)
    val local = s"file://$src"
    val (bucketA, bucketB) = ("gs://bench-a", "gs://bench-b")

    // expected state, from the generated tree (outside every round)
    val srcDigests = digestTree(src)
    val rx = java.util.regex.Pattern.compile(pattern)
    val matched = srcDigests.filter { case (p, _) => rx.matcher(p).find() }
    val byBase = matched.map { case (p, d) => Paths.get(p).getFileName.toString -> d }
    val sizes = srcDigests.keys.map(p => p -> Files.size(src.resolve(p))).toMap
    val total = srcDigests.size.toDouble
    val nMatch = matched.size.toDouble
    val matchedMb = matched.keys.map(sizes).sum / 1048576.0
    val totalMb = sizes.values.sum / 1048576.0
    def bucket(name: String, sub: String): Path = gsRoot.resolve(name).resolve(sub)

    var round = 0
    val t0 = System.nanoTime()
    while (round == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      round += 1
      deleteTree(gsRoot); deleteTree(dl)
      Files.createDirectories(bucket("bench-a", "")); Files.createDirectories(dl)

      val ((listed, hits), tList) = rec.timed(round, "sources.FileManifest", "list") {
        val m = FileManifest.scanManaged(spark, local)
        try (m.entries.count(), FileManifest.regexFilter(m.entries, pattern).count())
        finally m.release()
      }
      rec.record(round, "sources.FileManifest", "list", tList,
        "entries" -> listed.toDouble, "matched" -> hits.toDouble)
      rec.check("list counts")(listed == total && hits == nMatch)

      val (up, tUp) = rec.timed(round, "blueprints", "upload") {
        Blueprints.upload(spark, UploadConfig(bucket = bucketA,
          sourceFileName = pattern, matchType = MatchType.RegexMatch,
          destinationFolderName = "up"), srcRoot = local)
      }
      rec.record(round, "blueprints", "upload", tUp,
        "files" -> up.transferred.toDouble, "mb" -> matchedMb)
      rec.check("upload stats")(up == FileOps.CopyStats(matched.size, matched.size, 0))
      rec.check("upload digests")(digestTree(bucket("bench-a", "up")) == byBase)

      val (down, tDown) = rec.timed(round, "blueprints", "download") {
        Blueprints.download(spark, DownloadConfig(bucket = bucketA,
          sourceFolderName = "up", sourceFileName = pattern,
          matchType = MatchType.RegexMatch,
          destinationFileName = Some("obj.dat")), destRoot = s"file://$dl")
      }
      rec.record(round, "blueprints", "download", tDown,
        "files" -> down.transferred.toDouble, "mb" -> matchedMb)
      rec.check("download stats")(down == FileOps.CopyStats(matched.size, matched.size, 0))
      // always-enumerated names follow the path-sorted source order
      val enumerated = byBase.keys.toSeq.sortBy("up/" + _).zipWithIndex
        .map { case (b, i) => s"obj_${i + 1}.dat" -> byBase(b) }.toMap
      rec.check("download digests")(digestTree(dl) == enumerated)

      def sync(name: String, verify: Boolean) = {
        val (st, t) = rec.timed(round, "operators.FileOps", name) {
          FileOps.sync(spark, local, "", bucketB, "mirror", verifyContent = verify)
        }
        rec.record(round, "operators.FileOps", name, t,
          "scanned" -> st.scanned.toDouble, "files" -> st.transferred.toDouble,
          "copied_mb" -> st.transferred / total * totalMb,
          "digested_mb" -> (if (verify) 2 * totalMb else 0.0))
        st
      }
      val cold = sync("sync_cold", verify = false)
      rec.check("cold sync stats")(
        cold == FileOps.SyncStats(srcDigests.size, srcDigests.size, 0, 0, 0))
      rec.check("cold sync digests")(digestTree(bucket("bench-b", "mirror")) == srcDigests)
      val same = sync("sync_nochange", verify = false)
      rec.check("no-change resync transfers 0")(
        same == FileOps.SyncStats(srcDigests.size, 0, srcDigests.size, 0, 0))
      val verified = sync("sync_verify", verify = true)
      rec.check("verified resync transfers 0")(
        verified == FileOps.SyncStats(srcDigests.size, 0, srcDigests.size, 0, 0))

      val (mv, tMv) = rec.timed(round, "blueprints", "move") {
        Blueprints.move(spark, MoveConfig(sourceBucket = bucketA,
          destinationBucket = bucketB, sourceFolderName = "up",
          sourceFileName = pattern, matchType = MatchType.RegexMatch,
          destinationFolderName = "moved"))
      }
      rec.record(round, "blueprints", "move", tMv,
        "files" -> mv.transferred.toDouble, "mb" -> matchedMb)
      rec.check("move stats")(mv == FileOps.CopyStats(matched.size, matched.size, 0))
      rec.check("move leaves the source empty")(
        treeBytes(bucket("bench-a", "up"))._1 == 0L)
      rec.check("move digests")(digestTree(bucket("bench-b", "moved")) == byBase)

      val (removed, tRm) = rec.timed(round, "blueprints", "remove") {
        Blueprints.remove(spark, RemoveConfig(bucket = bucketB,
          sourceFileName = ".", matchType = MatchType.RegexMatch))
      }
      rec.record(round, "blueprints", "remove", tRm, "files" -> removed.toDouble)
      rec.check("remove count")(removed == srcDigests.size + matched.size)
      rec.check("remove empties the bucket")(treeBytes(bucket("bench-b", ""))._1 == 0L)
      rec.endRound()
    }
    deleteTree(gsRoot); deleteTree(dl)
    round
  }

  /** The north-star corpus path, cold: every round reads a fresh copy of
    * the corpus, so no fit memo or persisted store from an earlier round
    * (or session) can be hit.
    */
  def corpusBuild(spark: SparkSession, rec: Recorder, input: Path, work: Path,
      seconds: Double, results: Path): (Int, Map[String, String]) = {
    val q = graft.SparkEntry.queries
    val docsFile = input.resolve("documents.parquet")
    val inputBytes = Files.size(docsFile).toDouble
    val nDocs = spark.read.parquet(docsFile.toString).count().toDouble
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def stores(prefix: String): Set[Path] = {
      val s = Files.list(tmp)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).toSet
      finally s.close()
    }
    var hashes = Map.empty[String, String]
    def checkHash(name: String, rows: Array[Row],
        schema: org.apache.spark.sql.types.StructType): Unit = {
      val h = rowsHash(rows)
      hashes.get(name) match {
        case None =>
          hashes += name -> h
          dumpRows(rows, schema, results.resolve(s"$name.jsonl"))
        case Some(first) => rec.check(s"$name result repeats")(h == first)
      }
    }
    var round = 0
    val t0 = System.nanoTime()
    while (round == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      round += 1
      val dir = work.resolve(s"corpus-r$round")
      Files.createDirectories(dir)
      Files.copy(docsFile, dir.resolve("documents.parquet"))
      val before = stores("graft-q235-")

      val ((q100, q100Schema), tClean) =
        rec.timed(round, "operators.Pipeline", "q100_corpus_pipeline") {
          val df = q("q100_corpus_pipeline")(spark, dir.toString)
          (df.collect(), df.schema)
        }
      val kept = q100.map(_.getAs[Long]("n_docs")).sum.toDouble
      rec.record(round, "operators.Pipeline", "q100_corpus_pipeline", tClean,
        "docs" -> nDocs, "survivors" -> kept)
      checkHash("q100_corpus_pipeline", q100, q100Schema)

      val (_, tVocab) = rec.timed(round, "operators.TextAnalysis", "vocab_store") {
        TextAnalysis.vocabStoreFixture(spark, dir.toString)
      }
      rec.record(round, "operators.TextAnalysis", "vocab_store", tVocab, "docs" -> nDocs)

      val ((q235, q235Schema), tRel) =
        rec.timed(round, "operators.Release", "q235_token_release") {
          val df = q("q235_token_release")(spark, dir.toString)
          (df.collect(), df.schema)
        }
      val fresh = stores("graft-q235-") -- before
      val (files, bytes) = fresh.toSeq.map(treeBytes).foldLeft((0L, 0L)) {
        case ((a, b), (c, d)) => (a + c, b + d)
      }
      rec.record(round, "operators.Release", "q235_token_release", tRel,
        "docs" -> nDocs, "written_files" -> files.toDouble,
        "stored_bytes" -> bytes.toDouble, "input_bytes" -> inputBytes)
      rec.check("release store written inside the timed region")(
        fresh.size == 1 && files > 0)
      checkHash("q235_token_release", q235, q235Schema)
      rec.endRound()
      Q.releaseManaged()
    }
    (round, hashes)
  }

  /** The relational surface in one warm session: one untimed warm-up
    * pass over hundredth-scale tables (same schemas, so the same code gets
    * compiled), then seed-shuffled timed passes over all Relational
    * queries. The first timed pass's results go to the oracle check;
    * every later pass must hash the same.
    */
  def queryMix(spark: SparkSession, rec: Recorder, input: Path,
      seconds: Double, seed: Long, results: Path): (Int, Map[String, String]) = {
    // q20_arrays is left out: on seeded float32 embeddings its oracle
    // disagrees with the Spark plan on some seeds (DuckDB rounds a FLOAT
    // cast to DECIMAL(18,6) at float precision, Spark at double), so the
    // check would fail the run for reasons outside the measured path
    val defs = Relational.defs.filter(_._1 != "q20_arrays").sortBy(_._1)
    val dir = input.toString
    val w0 = System.nanoTime()
    defs.foreach { case (_, d) => d.build(spark, input.resolve("warmup").toString).collect() }
    rec.record(0, "operators.Relational", "warmup_pass", (System.nanoTime() - w0) / 1e9)
    var hashes = Map.empty[String, String]
    val rnd = new scala.util.Random(seed)
    var round = 0
    val t0 = System.nanoTime()
    while (round == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      round += 1
      rnd.shuffle(defs).foreach { case (name, d) =>
        val ((rows, schema), t) = rec.timed(round, "operators.Relational", name) {
          val df = d.build(spark, dir)
          (df.collect(), df.schema)
        }
        rec.record(round, "operators.Relational", name, t,
          "result_rows" -> rows.length.toDouble)
        val h = rowsHash(rows)
        if (round == 1) {
          hashes += name -> h
          dumpRows(rows, schema, results.resolve(s"$name.jsonl"))
        } else rec.check(s"$name result repeats")(h == hashes(name))
      }
      rec.endRound()
    }
    (round, hashes)
  }

  // ---- main -------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val flags = args.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = flags("workload")
    val cpus = Runtime.getRuntime.availableProcessors()

    val b0 = System.nanoTime()
    val spark =
      if (workload == "fileops") Cli.session() // SPARK_MASTER / SPARK_GRAFT_CPUS
      else benchSession(cpus)
    val buildS = (System.nanoTime() - b0) / 1e9
    val j0 = System.nanoTime()
    spark.sparkContext.parallelize(1 to cpus, cpus).map(_ + 1).count()
    val firstJobS = (System.nanoTime() - j0) / 1e9
    val setup = Map(
      "setup_s" -> (System.currentTimeMillis() - jvmStartMs) / 1e3,
      "jvm_s" -> (mainMs - jvmStartMs) / 1e3,
      "build_s" -> buildS, "first_job_s" -> firstJobS,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "catalog" -> spark.conf.get("spark.sql.catalogImplementation"))
    val out = Paths.get(flags("out"))

    val trace = flags("trace") == "1"
    val events = new Events
    if (trace) spark.sparkContext.addSparkListener(events)
    val rec = new Recorder(trace, spark.sparkContext)
    val input = Paths.get(flags("input"))
    val work = Paths.get(flags("work"))
    val results = work.resolve("results")
    val seconds = flags("seconds").toDouble
    val cpu0 = processCpuS()
    val r0 = System.nanoTime()
    val (rounds, hashes) = workload match {
      case "fileops" =>
        (fileops(spark, rec, input, work, seconds, flags("pattern")), Map.empty[String, String])
      case "corpus_build" => corpusBuild(spark, rec, input, work, seconds, results)
      case "query_mix" =>
        queryMix(spark, rec, input, seconds, flags("seed").toLong, results)
      case other => sys.error(s"unknown workload $other")
    }
    val runS = (System.nanoTime() - r0) / 1e9
    val cpuS = processCpuS() - cpu0
    if (hashes.nonEmpty) Files.writeString(results.resolve("oracle_sql.json"),
      js(graft.SparkEntry.oracleSql.filter { case (k, _) => hashes.contains(k) }))
    if (trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    val record = Map(
      "workload" -> workload, "cpus" -> cpus, "setup" -> setup,
      "rounds" -> rounds, "run_s" -> runS, "cpu_s" -> cpuS,
      "peak_rss_mb" -> vmHwmMb(), "retained_mb" -> rec.retainedMb,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "attempted" -> rec.attempted, "failures" -> rec.failures.toSeq,
      "hashes" -> hashes,
      "calls" -> rec.calls.map(c => Map("round" -> c.round, "layer" -> c.layer,
        "name" -> c.name, "wall_s" -> c.wallS, "cpu_s" -> c.cpuS,
        "facts" -> c.facts)),
      "spans" -> rec.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "wall_s" -> s.wallS)),
      "jobs" -> events.jobs.asScala.toSeq.map { case (id, s, e) => Seq(id, s, e) },
      "task_fields" -> TaskFields,
      "tasks" -> events.tasks.asScala.toSeq.map(_.toSeq))
    Files.writeString(out, js(record))
    spark.stop()
  }
}
