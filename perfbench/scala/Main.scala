package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import graft.{ScaleProbe, SearchMain, SparkEntry, WordCountMain}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM, driven by perfbench/run.py.
  *
  * Arguments are `key=value` pairs (see run.py). The run sets up
  * `setups` times (fresh SparkSession plus input preparation), runs one
  * untimed check pass that writes every output for run.py to verify and
  * `warm_passes` untimed passes like the measured ones, then measured
  * passes until `seconds` have passed. Each pass clears
  * the artifact caches and runs the items in a seed-permuted order. The
  * result goes to `<work>/result.json`.
  *
  * With `trace=1`, passes alternate between recording (listeners
  * registered) and quiet (no listener of the benchmark registered), as
  * many of each, so the same run yields the per-layer numbers and the
  * tracing overhead; spans go to `<work>/trace.json` at the end.
  */
object Main {

  private val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val WordCount = "kernel.wordcount"
  private val Search = "kernel.search"

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    def get(k: String): String = conf.getOrElse(k, throw new IllegalArgumentException(s"missing $k="))
    def list(k: String): Seq[String] = conf.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val work = get("work")
    val base = get("base")
    // an item "a+b" runs its queries in that order wherever the seed puts it
    val groups = list("items").map(_.split('+').toSeq)
    val items = groups.flatten
    val cores = get("cores").toInt
    val seed = get("seed").toLong
    val seconds = get("seconds").toDouble
    val trace = get("trace") == "1"
    val mult = get("mult").toInt
    val setups = get("setups").toInt
    val warmPasses = get("warm_passes").toInt
    val minPasses = get("min_passes").toInt
    val maxPasses = get("max_passes").toInt
    val splitFamilies = list("cache_split")

    if (conf.get("mode").contains("oracle")) {
      writeOracle(work, base, items, mult, cores)
      return
    }

    // ---- set-up, repeated: fresh session + opening every input table ----
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to setups).foreach { _ =>
      if (spark != null) stopSession(spark)
      val t0 = System.nanoTime()
      spark = session(cores, work)
      Tables.foreach(t => spark.read.parquet(s"$base/$t.parquet").schema)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    // the replica is built once; run.py keeps it across runs unless traced
    val synthStartUs = nowUs()
    val s0 = System.nanoTime()
    val dir = if (mult > 1) ScaleProbe.synthesize(spark, base, get("replica"), mult) else base
    val synthS = if (mult > 1) Seq((System.nanoTime() - s0) / 1e9) else Nil
    val synthEndUs = nowUs()
    val readyMs = System.currentTimeMillis()

    val queries = SparkEntry.queries
    val corpus = get("corpus")
    val searchWord = conf.getOrElse("search_word", "")
    val searchDirs = list("search_dirs_file").headOption
      .map(f => new String(Files.readAllBytes(Paths.get(f)), UTF_8).split("\n").toSeq.filter(_.nonEmpty))
      .getOrElse(Nil)

    def clearCaches(): Unit = {
      graft.ops.Relational.clearExactPctCache()
      graft.ops.Dedup.clearLabelsCache()
      graft.ops.Similarity.clearArtifactCache()
      graft.ops.TextAnalysis.clearLmScoreCache()
      graft.ops.TextAnalysis.clearTokenizerCache()
    }

    // kernel outputs of the check pass; later passes must reproduce them
    val kernelOut = mutable.Map.empty[String, Int]
    def runKernel(name: String, check: Boolean): Unit = {
      val lines: Seq[String] = name match {
        case WordCount => WordCountMain.run(spark, Seq(corpus)).map { case (w, c) => s"$w\t$c" }
        case Search => SearchMain.run(spark, searchWord, searchDirs).sorted
      }
      val h = lines.hashCode
      if (check) {
        kernelOut(name) = h
        Files.write(Paths.get(s"$work/check/$name.txt"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
      } else if (!kernelOut.get(name).contains(h))
        throw new IllegalStateException(s"$name output differs from the check pass")
    }

    // ---- check pass (also the warmup): every output written to disk ----
    val failures = mutable.LinkedHashMap.empty[String, String]
    def err(e: Throwable): String = (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")).take(300)
    Files.createDirectories(Paths.get(s"$work/check"))
    val w0 = System.nanoTime()
    clearCaches()
    items.foreach { name =>
      try {
        if (name.startsWith("kernel.")) runKernel(name, check = true)
        else queries(name)(spark, dir).write.mode("overwrite").parquet(s"$work/check/$name")
      } catch { case e: Throwable => failures(s"check:$name") = err(e) }
    }
    // untimed passes as the measured ones run them (noop write, seed order)
    (1 to warmPasses).foreach { i =>
      clearCaches()
      new Random(seed * 7919 - i).shuffle(groups).flatten.foreach { name =>
        try {
          if (name.startsWith("kernel.")) runKernel(name, check = false)
          else queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
        } catch { case e: Throwable => failures.getOrElseUpdate(name, err(e)) }
      }
    }
    val warmupS = (System.nanoTime() - w0) / 1e9
    if (warmPasses > 0) System.gc()

    // ---- measured passes ----
    val rec = if (trace) Some(new Recorder) else None
    def attach(r: Recorder): Unit = {
      spark.sparkContext.addSparkListener(r)
      spark.listenerManager.register(r)
      spark.streams.addListener(r.streams)
    }
    def detach(r: Recorder): Unit = {
      spark.streams.removeListener(r.streams)
      spark.listenerManager.unregister(r)
      spark.sparkContext.removeSparkListener(r)
    }
    val spans = mutable.ArrayBuffer.empty[Span]
    var lastId = 0L
    val nextId = () => { lastId += 1; lastId }
    if (trace && mult > 1) spans += Span(nextId(), "setup.synth", synthStartUs, synthEndUs, 0L, 0L)

    final case class Exec(name: String, total: Double, build: Double, exec: Double, ok: Boolean)
    final case class Pass(wall: Double, traced: Boolean, execs: Seq[Exec], trace: Option[PassTrace], liveMb: Double)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    // a traced run ends on a quiet pass: as many quiet as recording passes
    while (passes.size < maxPasses &&
      (passes.size < minPasses || elapsed < seconds || (trace && passes.size % 2 == 1))) {
      val idx = passes.size
      val traced = trace && idx % 2 == 0
      val pt = if (traced) Some(new PassTrace) else None
      val driver = mutable.ArrayBuffer.empty[Span]
      pt.foreach(p => rec.foreach { r => r.start(p); attach(r) })
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val order = new Random(seed * 7919 + idx).shuffle(groups).flatten
      val p0 = System.nanoTime()
      val c0 = nowUs()
      clearCaches()
      if (traced) driver += Span(nextId(), "cache.clear", c0, nowUs(), 0L, 0L)
      val execs = order.map { name =>
        val qid = nextId()
        val before = if (traced) spark.sparkContext.getPersistentRDDs.keySet else Set.empty[Int]
        val s0 = nowUs()
        val t0 = System.nanoTime()
        var t1 = t0
        val ok = try {
          if (name.startsWith("kernel.")) runKernel(name, check = false)
          else {
            val df = queries(name)(spark, dir)
            t1 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
          }
          true
        } catch { case e: Throwable => failures.getOrElseUpdate(name, err(e)); false }
        val t2 = System.nanoTime()
        pt.foreach { p =>
          val s1 = s0 + (t1 - t0) / 1000
          val s2 = s0 + (t2 - t0) / 1000
          driver += Span(qid, s"query:$name", s0, s2, 0L, qid)
          if (name.startsWith("kernel.")) driver += Span(nextId(), name, s0, s2, qid, qid)
          else {
            driver += Span(nextId(), "ops.build", s0, s1, qid, qid)
            driver += Span(nextId(), "ops.exec", s1, s2, qid, qid)
          }
          if (name == WordCount) p.add("kernel.wordcount_s", (t2 - t0) / 1e9)
          if (name == Search) p.add("kernel.search_s", (t2 - t0) / 1e9)
          p.add("ckpt.rdds_leaked", (spark.sparkContext.getPersistentRDDs.keySet -- before).size.toDouble)
        }
        Exec(name, (t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, ok)
      }
      val wall = (System.nanoTime() - p0) / 1e9
      if (traced) rec.foreach { r =>
        r.drain()
        r.stop()
        detach(r)
      }
      pt.foreach { p =>
        p.add("codegen.compiles", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0).toDouble)
        spans ++= driver
        Trace.finish(p, wall, cores, driver.toSeq, nextId, spans)
      }
      // outside the pass wall: the heap the program still holds after a full
      // GC; the second GC follows Spark's ContextCleaner, which drops the
      // broadcast and shuffle blocks of the objects the first one freed
      System.gc()
      Thread.sleep(300)
      System.gc()
      val liveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      passes += Pass(wall, traced, execs, pt, liveMb)
    }

    // ---- artifact-cache train/serve split (traced runs only) ----
    val split = mutable.LinkedHashMap.empty[String, (Double, Double)]
    if (trace) splitFamilies.foreach { name =>
      def once(): Double = {
        val t0 = System.nanoTime()
        queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      try {
        clearCaches()
        val cold = once()
        val warm = once()
        split(name) = (cold, warm)
      } catch { case e: Throwable => failures(s"split:$name") = err(e) }
    }

    val rssMb = peakRssMb()
    stopSession(spark)

    // ---- result ----
    val kernelWords = kernelWordTotal(work)
    val tracedPasses = passes.filter(_.traced).flatMap(_.trace)
    val json = new StringBuilder
    json ++= "{"
    json ++= s""""seed":$seed,"cores":$cores,"dir":${Json.str(dir)},"""
    json ++= s""""setup_s":${Json.arr(setupS.toSeq)},"synth_s":${Json.arr(synthS)},"""
    json ++= s""""jvm_start_to_ready_s":${(readyMs - jvmStartMs) / 1e3},"warmup_s":$warmupS,"""
    json ++= s""""peak_rss_mb":$rssMb,"kernel_words":$kernelWords,"""
    json ++= s""""failures":${Json.obj(failures.toSeq.map { case (k, v) => k -> Json.str(v) })},"""
    json ++= "\"passes\":" + passes.map { p =>
      val ex = p.execs.map(e =>
        s"""{"name":${Json.str(e.name)},"total":${e.total},"build":${e.build},"exec":${e.exec},"ok":${e.ok}}""")
      s"""{"wall":${p.wall},"traced":${p.traced},"live_mb":${p.liveMb},"execs":[${ex.mkString(",")}]}"""
    }.mkString("[", ",", "]") + ","
    json ++= "\"traced\":" + tracedPasses.map(t =>
      Json.obj(t.counts.toSeq.map { case (k, v) => k -> v.toString })).mkString("[", ",", "]") + ","
    json ++= "\"cache_split\":" + Json.obj(split.toSeq.map { case (k, (c, w)) => k -> s"[$c,$w]" })
    json ++= "}"
    Files.write(Paths.get(s"$work/result.json"), json.toString.getBytes(UTF_8))
    if (trace) Files.write(Paths.get(s"$work/trace.json"), spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_us":${s.start},"end_us":${s.end},"parent":${s.parent},"query":${s.query}}"""
    }.mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8))
  }

  private def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** VmHWM of this process in MB (Linux). */
  private def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    status.split("\n").find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
  }

  private def kernelWordTotal(work: String): Long = {
    val p = Paths.get(s"$work/check/kernel.wordcount.txt")
    if (!Files.exists(p)) 0L
    else new String(Files.readAllBytes(p), UTF_8).split("\n").filter(_.nonEmpty)
      .map(_.split("\t")(1).toLong).sum
  }

  /** Record mode: the oracle SQL of `items` and, for `mult` > 1, the
    * replica they run on, for perfbench/record.py. */
  private def writeOracle(work: String, base: String, items: Seq[String], mult: Int, cores: Int): Unit = {
    val spark = session(cores, work)
    val dir = if (mult > 1) ScaleProbe.synthesize(spark, base, s"$work/replica", mult) else base
    val sql = SparkEntry.oracleSql
    val fields = items.filterNot(_.startsWith("kernel.")).map(n => n -> Json.str(sql.getOrElse(n, "")))
    Files.createDirectories(Paths.get(work))
    Files.write(Paths.get(s"$work/oracle.json"),
      Json.obj(Seq("dir" -> Json.str(dir), "sql" -> Json.obj(fields))).getBytes(UTF_8))
    stopSession(spark)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Seq[Double]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
