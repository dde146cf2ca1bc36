package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tuning}
import graft.functions.{GraftFunctions, GraftRegistry, TextFunctions}
import graft.operators.Layout
import graft.sources.{Bucketing, DataContract, Tables}

/** The benchmark's JVM side. It drives the engine only through its public
  * entry points (the query catalog, the noop sink, the table readers and
  * the kernel functions) and measures it from outside with Spark's public
  * listener APIs.
  *
  * Arguments are `key=value` pairs:
  *  - `data`: table directory; `cpus`: local[N] width
  *  - `queries`: comma-separated catalog names, run in this order, or
  *    `ALL` for the whole catalog in name order
  *  - `warm`: unmeasured passes before measuring
  *  - `seconds`: stop starting measured passes once this much measured
  *    time has passed (at least one pass runs unless `passes` is 0);
  *    `passes`: most measured passes, no limit by default
  *  - `trace`: 1 records spans and per-layer metrics; `kernels`: 1 also
  *    times the kernel functions (traced runs only)
  *  - `check`: directory to write each query's result to for the
  *    oracle compare (in the first warm pass, or after measuring)
  *  - `out`: artifact path; `spans`: span file path (trace only)
  *  - `warehouse`: warehouse directory for the bucketed tables
  *
  * The artifact is one JSON object; run.py turns it into metrics.
  */
object Harness {
  private val epoch0Us = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()
  private def nowUs: Long = epoch0Us + (System.nanoTime() - nano0) / 1000

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val dataDir = opt("data")
    val cpus = opt("cpus").toInt
    val trace = opt.get("trace").contains("1")
    val art = mutable.LinkedHashMap[String, Any]()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", Tuning.shuffleConf(dataDir, cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", opt("warehouse"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.codegen.cache.maxEntries", Tuning.codegenCacheConf)
      .getOrCreate()
    Bucketing.sessionConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    val contract = DataContract.report(spark, dataDir)
    val t2 = System.nanoTime()
    Bucketing.ensure(spark, dataDir)
    val t3 = System.nanoTime()
    println("PERFBENCH_READY")
    System.out.flush()
    art("setup") = Map("session_s" -> (t1 - t0) / 1e9, "contract_s" -> (t2 - t1) / 1e9,
      "bucketing_s" -> (t3 - t2) / 1e9)
    art("contract_failures") = contract.filterNot(_.startsWith("OK"))
    art("host") = Map(
      "cpus" -> spark.sparkContext.defaultParallelism,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq
        .map(_.toString).filter(a => a.startsWith("-Xmx") || a.startsWith("-XX")))
    run(spark, opt, dataDir, trace, art)
    Files.writeString(Paths.get(opt("out")), Json.value(art) + "\n")
    spark.stop()
  }

  private final case class QRun(var ok: Boolean = true, var error: String = "",
      wall: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer(),
      build: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer())

  private def run(spark: SparkSession, opt: Map[String, String], dataDir: String,
      trace: Boolean, art: mutable.Map[String, Any]): Unit = {
    val catalog = SparkEntry.queries
    val names = if (opt("queries") == "ALL") catalog.keys.toSeq.sorted
      else opt("queries").split(",").filter(_.nonEmpty).toSeq
    val missing = names.filterNot(catalog.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val sc = spark.sparkContext
    val counters = new Counters
    sc.addSparkListener(counters)
    val tracer = if (trace) Some(new Tracer(dataDir)) else None
    tracer.foreach { t =>
      sc.addSparkListener(t)
      spark.listenerManager.register(t.qeListener)
      spark.streams.addListener(t.streamListener)
    }
    // span 1 is the run and span 2 the workload; both close when measuring ends
    val spans = mutable.ArrayBuffer[Span]()
    def span(parent: Int, name: String, layer: String, query: String, s: Long, e: Long): Span = {
      val sp = Span(spans.size + 3, parent, name, layer, query, s, e)
      spans += sp
      sp
    }
    val perQuery = mutable.LinkedHashMap[String, mutable.Map[String, Double]]()
    def addQ(n: String, k: String, v: Double): Unit = {
      val m = perQuery.getOrElseUpdate(n, mutable.Map())
      m(k) = m.getOrElse(k, 0.0) + v
    }
    // scratch: the spill root (Materialize's graft-spill* temp dir) and
    // Spark's local dirs; native libraries unpacked to the temp dir are not
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val localDirs = sys.env.get("SPARK_LOCAL_DIRS").toSeq.flatMap(_.split(","))
    def scratchBytes: Long = {
      val spill = Option(tmp.listFiles()).toSeq.flatten.filter(_.getName.startsWith("graft-spill"))
      (spill.map(_.getPath) ++ localDirs).map(Tuning.dirBytes).sum
    }

    /** One query, built then run through the noop sink. Returns
      * (wall s, build s) or the error that stopped it.
      */
    def once(name: String, desc: String, sink: Option[String] = None): Either[Throwable, (Double, Double)] = {
      val a = System.nanoTime()
      try {
        sc.setJobDescription(s"$name|build|$desc")
        val df = catalog(name)(spark, dataDir)
        val b = System.nanoTime()
        sc.setJobDescription(s"$name|execute|$desc")
        sink match {
          case Some(path) => df.write.mode("overwrite").parquet(path)
          case None => df.write.format("noop").mode("overwrite").save()
        }
        Right(((System.nanoTime() - a) / 1e9, (b - a) / 1e9))
      } catch { case e: Throwable => Left(e) }
      finally sc.setJobDescription(null)
    }

    /** Write every query's result for the oracle compare: a query that
      * throws leaves a one-row `__graft_error` frame instead.
      */
    def writeResults(dir: String, desc: String): Unit = {
      names.foreach { n =>
        once(n, desc, Some(s"$dir/$n")).left.foreach { e =>
          import spark.implicits._
          Seq(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
            .toDF("__graft_error").coalesce(1).write.mode("overwrite").parquet(s"$dir/$n")
        }
      }
      val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      Files.writeString(Paths.get(s"$dir/oracle_sql.json"), Json.value(oracles))
    }

    val runs = names.map(_ -> QRun()).toMap
    // The first unmeasured pass writes the results to check; its plans
    // match the measured ones up to the sink, so it warms the same code.
    // Without a warm pass the results are written after measuring.
    val warm = opt.getOrElse("warm", "0").toInt
    for (w <- 1 to warm) {
      if (w == 1 && opt.contains("check")) writeResults(opt("check"), "warm1")
      else names.foreach(n => once(n, s"warm$w"))
    }

    val maxPasses = opt.get("passes").fold(Int.MaxValue)(_.toInt)
    val seconds = opt.getOrElse("seconds", "0").toDouble
    counters.quiesce()
    val rows0 = counters.rowsRead.get
    val io0 = procIo("wchar")
    val workStart = nowUs
    val measureStart = System.nanoTime()
    val passWall = mutable.ArrayBuffer[Double]()
    while (passWall.size < maxPasses &&
        (passWall.isEmpty || (System.nanoTime() - measureStart) / 1e9 < seconds)) {
      val pass = passWall.size + 1
      val ps = System.nanoTime()
      names.foreach { n =>
        val cg0 = (codegenCompileNs, codegenGenNs, codegenCompiles)
        val qs = nowUs
        val r = once(n, s"p$pass")
        val qe = nowUs
        r match {
          case Right((wall, build)) =>
            runs(n).wall += wall; runs(n).build += build
            if (trace) {
              val q = span(2, n, "query", n, qs, qe)
              val built = qs + (build * 1e6).toLong
              span(q.id, s"$n|build|p$pass", "build", n, qs, built)
              span(q.id, s"$n|execute|p$pass", "execute", n, built, qe)
            }
          case Left(e) =>
            runs(n).ok = false
            runs(n).error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
            System.err.println(s"[perfbench] $n failed: ${runs(n).error}")
        }
        if (trace) {
          addQ(n, "compile_s", (codegenCompileNs - cg0._1) / 1e9)
          addQ(n, "gen_s", (codegenGenNs - cg0._2) / 1e9)
          addQ(n, "compiles", (codegenCompiles - cg0._3).toDouble)
          addQ(n, "scratch_mb_after_query", scratchBytes / 1e6)
        }
      }
      passWall += (System.nanoTime() - ps) / 1e9
    }
    val workEnd = nowUs
    val written = procIo("wchar") - io0
    counters.quiesce()
    art("passes") = passWall.size
    art("pass_wall_s") = passWall.toSeq
    val passes = math.max(1, passWall.size)
    art("rows_read") = (counters.rowsRead.get - rows0) / passes
    art("failed_tasks") = counters.failedTasks.get
    art("disk_written_mb") = written / 1e6 / passes
    art("peak_rss_mb") = procStatus("VmHWM") / 1024.0
    // leftover scratch: after a GC has let the context cleaner drop the
    // shuffle files of finished queries, what the workload still holds
    System.gc()
    Thread.sleep(1000)
    art("scratch_mb_end") = scratchBytes / 1e6
    art("queries") = runs.map { case (n, r) =>
      n -> Map("ok" -> r.ok, "error" -> r.error, "wall_s" -> r.wall.toSeq, "build_s" -> r.build.toSeq)
    }

    tracer.foreach { t =>
      val attributeStart = System.nanoTime()
      val jvmStartUs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000
      val (attributed, all) = t.attribute(
        Span(1, 0, "run", "run", "", jvmStartUs, workEnd) +:
        Span(2, 1, opt.getOrElse("workload", "workload"), "workload", "", workStart, workEnd) +:
        spans.toSeq)
      attributed.foreach { case (n, m) => m.foreach {
        case (k, v: Double) => addQ(n, k, v)
        case _ => ()
      } }
      art("trace_queries") = perQuery.map { case (n, m) =>
        val fps = attributed.get(n).flatMap(_.get("fingerprints")).map(_.asInstanceOf[Vector[String]])
          .getOrElse(Vector.empty)
        n -> (m.toMap ++ Map("plan_fingerprint" -> t.fingerprint(fps.mkString("|")),
          "plans" -> fps.size.toDouble))
      }
      writeSpans(opt("spans"), all)
      System.err.println(f"[perfbench] ${all.size} spans attributed in ${(System.nanoTime() - attributeStart) / 1e9}%.1f s")
      if (opt.get("kernels").contains("1")) art("kernels") = kernels(spark, dataDir)
    }

    if (warm == 0) opt.get("check").foreach(writeResults(_, "check"))
  }

  /** Rows per second of each public kernel function on the leading rows
    * of this workload's own tables, through the noop sink.
    */
  private def kernels(spark: SparkSession, dir: String): Map[String, Double] = {
    GraftRegistry.register(spark)
    // leading rows only, so the slowest kernel (minhash, ~60 rows/s on
    // 4 cpus) takes about a second at every scale
    val li = Tables.lineitem(spark, dir).limit(60000)
    val docs = Tables.documents(spark, dir).limit(60).withColumn("w", TextFunctions.words(col("text")))
    val emb = Tables.embeddings(spark, dir).limit(2000)
    val cases: Seq[(String, DataFrame)] = Seq(
      "logit" -> li.select(GraftFunctions.logit(col("l_discount") * 5 + 0.25)),
      "jaro_winkler" -> docs.select(GraftFunctions.jaroWinklerNative(
        substring(col("text"), 1, 64), substring(col("text"), 9, 64))),
      "hilbert" -> li.select(Layout.hilbertValue(col("l_partkey"), col("l_suppkey"), 16)),
      "minhash" -> docs.select(TextFunctions.minhashSignature(
        TextFunctions.shingleHashPairs(TextFunctions.wordShingles(col("w"), 3)), 64)),
      "simhash" -> docs.select(TextFunctions.simhash64("w")),
      "dot" -> emb.select(GraftFunctions.dotNative(
        col("embedding").cast("array<double>"), col("embedding").cast("array<double>"))))
    cases.map { case (name, df) =>
      val rows = df.count().toDouble
      def timed(): Double = {
        val a = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - a) / 1e9
      }
      // one unmeasured run, then the median of three, or a single timed
      // run when one run alone takes over a second
      val first = timed()
      val ts = if (first > 1.0) Seq(timed()) else Seq.fill(3)(timed()).sorted
      System.err.println(f"[perfbench] kernel $name: ${rows.toLong} rows, first run $first%.2f s, timed ${ts.mkString(",")}")
      name -> rows / ts(ts.size / 2)
    }.toMap
  }

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val lines = spans.map(s => Json.value(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "layer" -> s.layer, "query" -> s.query, "start_us" -> s.startUs, "end_us" -> s.endUs)))
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  private def codegenCompileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  private def codegenGenNs: Long =
    org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime
  private def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def procFile(path: String, key: String): Long = try {
    scala.io.Source.fromFile(path).getLines().collectFirst {
      case l if l.startsWith(key + ":") => l.drop(key.length + 1).trim.split("\\s+")(0).toLong
    }.getOrElse(0L)
  } catch { case _: Throwable => 0L }

  /** A field of /proc/self/io (bytes). */
  private def procIo(key: String): Long = procFile("/proc/self/io", key)

  /** A field of /proc/self/status (kB). */
  private def procStatus(key: String): Long = procFile("/proc/self/status", key)
}
