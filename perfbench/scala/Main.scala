package graftbench

import graft.ingest.{Ingest, Merger}
import graft.model.{GraftStore, TableLoader}
import graft.ops._
import graft.pipeline.{Curation, Dedup, Similarity, TextAnalysis}
import graft.qp.{ApParser, QpParser}
import graft.sparql.Sparql
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark client: one JVM per run, one client thread sending
  * operations in a closed loop, every engine layer entered through its
  * public functions. Inputs come from files run.py generated from the
  * run's seed; results, timings and (traced) layer figures go to
  * `result.json` in the output directory for run.py to check.
  *
  * Usage: Main <prepare|read_mix|ingest_merge|pipeline_batch>
  *             <run.properties> <seconds> <trace 0|1> <out dir> */
object Main {
  final case class Op(id: String, cls: String, ms: Double, items: Long,
                      rows: Seq[String], error: Option[String],
                      extra: Map[String, Any] = Map.empty)

  def main(args: Array[String]): Unit = {
    val Array(mode, propsFile, seconds, traceFlag, outDir) = args
    val props = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(propsFile))
    try props.load(in) finally in.close()
    val p: String => String = k =>
      Option(props.getProperty(k)).getOrElse(sys.error(s"missing property $k"))
    val cores = p("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cores)
      .config("spark.sql.codegen.cache.maxEntries", 2000)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", p("local_dir"))
      .config("spark.sql.warehouse.dir", p("local_dir") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM launch → session ready: the first part of every set-up
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val trace = new Trace(spark.sparkContext, traceFlag == "1")
    val w = new Workloads(spark, trace, p, seconds.toDouble)
    try {
      val res = mode match {
        case "prepare" => w.prepare()
        case "read_mix" => w.readMix()
        case "ingest_merge" => w.ingestMerge()
        case "pipeline_batch" => w.pipelineBatch()
        case other => sys.error(s"unknown workload $other")
      }
      trace.drain(spark)
      val out = Paths.get(outDir)
      Files.createDirectories(out)
      val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
      val layers = if (trace.on) w.layers(res) ++ Map("jvm.heap_peak_mb" -> heapMb)
                   else Map.empty[String, Any]
      val json = Map(
        "session_s" -> sessionS,
        "setup_runs_s" -> res.setups,
        "window_s" -> res.windowS,
        "ops" -> res.ops,
        "warm" -> res.warm,
        "probe" -> res.probe,
        "layers" -> layers,
        "info" -> res.info)
      Files.write(out.resolve("result.json"), Json.write(json).getBytes(UTF_8))
      if (trace.on)
        Files.write(out.resolve("trace.json"), Json.write(trace.spanList).getBytes(UTF_8))
    } finally spark.stop()
  }
}

/** One read request as generated: engine call kind, output format and
  * its string arguments (path, qp, then kind-specific). */
final case class Req(id: String, cls: String, kind: String, fmt: String,
                     a: IndexedSeq[String]) {
  def qp: Option[String] = Option(a(1)).filter(_.nonEmpty)
}

/** Outcome of one workload run: the measured `ops`, the untimed `warm`
  * ops that are checked too, and `probe`, the known-defect request sent
  * after the window when asked for. */
final case class RunResult(setups: Seq[Double], windowS: Double,
                           ops: Seq[Main.Op], warm: Seq[Main.Op] = Nil,
                           info: Map[String, Any] = Map.empty,
                           probe: Option[Main.Op] = None)

final class Workloads(spark: SparkSession, trace: Trace,
                      p: String => String, seconds: Double) {
  import Main.Op
  import spark.implicits._

  private def now: Long = System.nanoTime()
  private def msSince(t: Long): Double = (now - t) / 1e6

  /** Build the warm stores once (untimed): the ETL cache lands under
    * this JVM's `user.home`, which run.py points at a directory of its
    * own. */
  def prepare(): RunResult = {
    val t = now
    p("stores").split(",").foreach(GraftStore.forDir(spark, _))
    RunResult(Seq(msSince(t) / 1000), 0, Nil)
  }

  /** Closed loop: run `op(i)` for i = 0, 1, … until the window has
    * closed at a multiple of `cycle` ops (so every run measures whole
    * cycles of the workload's fixed schedule), or `limit` ops ran. */
  private def loop(limit: Int, cycle: Int)(op: Int => Op): (Seq[Op], Double) = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val t = now
    var i = 0
    while (i < limit && (msSince(t) < seconds * 1000 || i % cycle != 0)) {
      ops += op(i); i += 1
    }
    (ops.toSeq, msSince(t) / 1000)
  }

  private def guarded(id: String, cls: String)(f: => Op): Op =
    try trace.request(id, cls)(f)
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        Op(id, cls, 0, 0, Nil, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }

  /** Run `f` with tracing paused: its phases and jobs stay out of the
    * layer figures. */
  private def untimed[A](f: => A): A = {
    trace.paused = true
    try f finally trace.paused = false
  }

  // ---------------------------------------------------------------- read_mix

  private var readStore: GraftStore = _

  def readMix(): RunResult = {
    def load(file: String) = Files.readAllLines(Paths.get(file), UTF_8).asScala
      .filter(_.nonEmpty).map { l =>
        val f = l.split("\t", -1)
        Req(f(0), f(1), f(2), f(3), f.drop(4).toIndexedSeq)
      }.toIndexedSeq
    val reqs = load(p("requests"))
    val warm = load(p("warmup"))
    val probe = Option(p("probe")).filter(_.nonEmpty).map(load(_).head)
    // set-up: open the warm store in a fresh session (the store cache is
    // keyed by session), several times; the last one serves the loop
    val setups = (1 to p("setups").toInt).map { _ =>
      val s = spark.newSession()
      val t = now
      readStore = trace.phase("setup", "model", "open")(GraftStore.forDir(s, p("store")))
      msSince(t) / 1000
    }
    // warm-up (untimed): a fixed request list, so the window measures
    // serving, not JVM class loading and first-use JIT
    untimed(warm.zipWithIndex.foreach { case (r, i) =>
      readOp(s"w$i", r).error.foreach(e => sys.error(s"warm-up request failed: $e"))
    })
    val (ops, window) = loop(reqs.size, p("cycle").toInt)(i => readOp(s"r$i", reqs(i)))
    // after the window and untraced: the request that hits a known
    // engine defect, so the report shows whether it still fails
    val probed = untimed(probe.map(r => readOp("probe", r)))
    RunResult(setups, window, ops, probe = probed)
  }

  private def readOp(id: String, r: Req): Op = guarded(id, r.cls) {
    val st = readStore
    val t = now
    def ph[A](name: String)(f: => A): A = trace.phase(id, r.cls, name)(f)
    if (trace.on) r.cls match {
      case "sparql" => ph("sparql_parse")(Sparql.parse(r.a(0)))
      case "gremlin" | "consume" => ()
      case _ => r.qp.foreach(q => ph("qp_parse")(QpParser.parse(q)))
    }
    def base = Search.run(st, Search.Request(path = r.a(0), qp = r.qp))
    // render through the requested format and collect to the client
    def deliver(df: DataFrame): Seq[String] = {
      val rendered = ph("format")(Render(r.fmt, df))
      ph("plan")(rendered.queryExecution.executedPlan)
      val rows = ph("execute")(rendered.collect())
      val lines = ph("result")(rows.map(_.getString(0)).toSeq)
      if (trace.on) Render.noteCatalyst(rendered)
      lines
    }
    r.cls match {
      case "consume" =>
        var token = Consume.createConsumer(r.a(0), r.qp)
        val out = mutable.ArrayBuffer.empty[String]
        val chunks = r.a(3).toInt
        var k = 0
        while (k < chunks) {
          val res = ph("builder")(Consume.consume(st, token, r.a(2).toInt))
          out ++= deliver(res.chunk).map(l => s"$k\t$l")
          res.nextToken match {
            case Some(tk) => token = tk; k += 1
            case None => k = chunks
          }
        }
        finish(id, r, t, out.toSeq)
      case _ =>
        val df = ph("builder")((r.cls, r.kind) match {
          case ("search", k) if k.startsWith("page") =>
            Search.search(st, Search.Request(path = r.a(0), qp = r.qp,
              sortBy = Some(r.a(2))), r.a(3).toInt, r.a(4).toInt)
          case ("search", _) => Aggregations.run(st, base, ApParser.parse(r.a(2)).head)
          case (_, "xg") => Graph.xg(st, base, Graph.parseXg(r.a(2), Graph.refFields(st)))
          case (_, "yg") => Graph.yg(st, base, r.a(2))
          case (_, "gqp") => Graph.gqp(st, base, r.a(2))
          case ("sparql", _) => Sparql.select(st, r.a(0))
          case ("gremlin", _) => Gremlin.eval(st, r.a(0))
          case other => sys.error(s"unknown request $other")
        })
        finish(id, r, t, deliver(df))
    }
  }

  /** Client-side completion: the rendered bytes are the response. The
    * canonical rows for the oracle check are extracted after the clock
    * stops. */
  private def finish(id: String, r: Req, t: Long, lines: Seq[String]): Op = {
    val ms = msSince(t)
    val bytes = lines.map(_.getBytes(UTF_8).length.toLong).sum
    if (!trace.paused) Render.bytes += bytes
    Op(id, r.cls, ms, 1, Render.canonical(r.fmt, lines),
      None, Map("req" -> r.id, "bytes" -> bytes))
  }

  // ------------------------------------------------------------ ingest_merge

  def ingestMerge(): RunResult = {
    val writable = p("writable")
    // set-up: open the warm store and clone its layout into a writable
    // directory (hard links, no Spark job), several times; the last
    // clone takes the batches
    val setups = (1 to p("setups").toInt).map { i =>
      val t = now
      val src = trace.phase("setup", "model", "open")(
        GraftStore.forDir(spark.newSession(), p("store")))
      trace.phase("setup", "model", "clone")(
        GraftStore.cloneInfotons(src.materializedDir.get, s"$writable/$i"))
      msSince(t) / 1000
    }
    val dir = s"$writable/${setups.size}"
    val batches = Files.readAllLines(Paths.get(p("batches")), UTF_8).asScala
      .filter(_.nonEmpty).map(_.split("\t", -1)).toIndexedSeq
    def batch(id: String, i: Int): Op = {
      val b = batches(i)
      batchOp(id, dir, i, b(1), b(2).split(",").toSeq, b(3).split(",").toSeq)
    }
    // warm-up (untimed, checked): batch 0, so the window measures writing,
    // not first-use JIT and code generation
    val warm = untimed(batch("w0", 0))
    val bytes0 = Store.files(dir)
    val (ops, window) = loop(batches.size - 1, p("cycle").toInt)(i => batch(s"b${i + 1}", i + 1))
    // after the window, so the bulk load does not warm the measured JVM
    if (trace.on) coldLoad()
    val after = Store.files(dir)
    val written = after.filter { case (f, _) => !bytes0.contains(f) }
    RunResult(setups, window, ops, warm = Seq(warm), info = Map(
      "store_growth_bytes" -> (after.values.sum - bytes0.values.sum),
      "store_written_bytes" -> written.values.sum,
      "store_files_written" -> written.size))
  }

  /** Traced runs only: a cold bulk load of the same base into a fresh,
    * empty ETL cache root — the model.etl_* layer figures. */
  private def coldLoad(): Unit = {
    val home = sys.props("user.home")
    System.setProperty("user.home", p("etl_root"))
    try trace.phase("setup", "model", "etl")(
      GraftStore.forDir(spark.newSession(), p("store")))
    finally System.setProperty("user.home", home)
  }

  private def batchOp(id: String, dir: String, i: Int, ntFile: String,
                      sample: Seq[String], fields: Seq[String]): Op =
    guarded(id, "ingest") {
      val lines = Files.readAllLines(Paths.get(ntFile), UTF_8).asScala.toSeq
      def ph[A](name: String)(f: => A): A = trace.phase(id, "ingest", name)(f)
      val t = now
      val cmds = ph("commands")(Ingest.commands(spark, spark.createDataset(lines),
        new java.sql.Timestamp(1800000000000L + i * 1000L)))
      val affected = ph("merge")(Merger.mergePruned(spark, dir, cmds))
      // reopen the store from disk and point-read a sample of the paths
      val read = ph("readback") {
        val store = GraftStore.fromInfotons(spark,
          spark.read.parquet(s"$dir/infotons").drop("__parent"),
          Some(TableLoader.fieldTypes))
        Search.read(store, sample)
          .select(col("system.path"), col("fields")).collect()
      }
      val ms = msSince(t)
      val rows = read.map { r =>
        val fm = Option(r.getMap[String, collection.Seq[org.apache.spark.sql.Row]](1))
          .map(_.toMap).getOrElse(Map.empty)
        (r.getString(0) +: fields.map { f =>
          val vs = fm.getOrElse(f, Nil).map { v =>
            val n = v.getAs[Any]("n")
            if (n != null) Render.num(n.asInstanceOf[Double]) else v.getAs[String]("s")
          }.sorted
          s"$f=${vs.mkString(";")}"
        }).mkString("|")
      }.toSeq
      Op(id, "ingest", ms, lines.count(_.trim.nonEmpty), rows, None,
        Map("batch" -> i, "parents_rewritten" -> affected.size,
          "input_bytes" -> lines.map(_.getBytes(UTF_8).length + 1L).sum))
    }

  // ---------------------------------------------------------- pipeline_batch

  def pipelineBatch(): RunResult = {
    var docs: DataFrame = null
    // set-up: read the corpus into the session (persisted, counted)
    val setups = (1 to p("setups").toInt).map { _ =>
      if (docs != null) docs.unpersist(true)
      val t = now
      docs = trace.phase("setup", "model", "read_corpus") {
        val d = spark.read.parquet(p("corpus")).persist(StorageLevel.MEMORY_AND_DISK)
        d.count(); d
      }
      msSince(t) / 1000
    }
    val bench = spark.read.parquet(p("bench"))
    val emb = spark.read.parquet(p("embeddings"))
    val queries = p("knn_queries").split(",").map(_.toLong).toSeq
    val nDocs = docs.count()
    // warm-up (untimed): the first pass, which ships its full stage
    // outputs for the oracle; measured passes must reproduce them
    val warm = untimed(passOp("p0", full = true, docs, bench, emb, queries, nDocs))
    val (ops, window) = loop(Int.MaxValue, p("cycle").toInt)(i =>
      passOp(s"p${i + 1}", full = false, docs, bench, emb, queries, nDocs))
    RunResult(setups, window, ops, warm = Seq(warm), info = Map("docs" -> nDocs))
  }

  /** One pass of the curation chain. The first pass ships its full
    * stage outputs for the oracle; every pass ships their digests. */
  private def passOp(id: String, full: Boolean, docs: DataFrame,
                     bench: DataFrame, emb: DataFrame, queries: Seq[Long],
                     nDocs: Long): Op = guarded(id, "pipeline") {
    def st[A](name: String)(f: => A): A = trace.phase(id, name, name)(f)
    val t = now
    val quality = st("quality")(TextAnalysis.quality(docs).collect())
    val pairs = st("dedup")(Dedup.minhashLsh(docs).select("d1", "d2").collect())
    val pairDf = pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq.toDF("v1", "v2")
    val comps = st("components")(Dedup.connectedComponents(pairDf).collect())
    val cont = st("decontam")(Curation.contaminated(docs, bench, n = 8).collect())
    val knn = st("knn")(Similarity.lshTopK(emb, queries, k = 5).collect())
    val dropped = comps.filter(r => r.getLong(0) != r.getLong(1)).map(_.getLong(0)).toSet ++
      cont.map(_.getLong(0))
    val keepQ = quality.filter(r => r.getInt(1) >= 5 && r.getDouble(5) <= 0.5)
      .map(_.getLong(0)).filterNot(dropped).toSeq
    val kept = docs.join(keepQ.toDF("doc_id"), Seq("doc_id"), "left_semi")
    val packed = st("pack")(Curation.packSequences(kept, "source", budget = 256).collect())
    Dedup.releaseCaches(); Similarity.releaseCaches()
    val ms = msSince(t)
    def rows(tag: String, xs: Seq[String]) = xs.map(x => s"$tag\t$x")
    val qRows = quality.map(r => (0 until 6).map(j => Render.cell(r.get(j))).mkString("|")).toSeq
    val out =
      rows("quality", qRows) ++ rows("pairs", pairs.map(r => s"${r.getLong(0)}|${r.getLong(1)}").toSeq) ++
        rows("components", comps.map(r => s"${r.getLong(0)}|${r.getLong(1)}").toSeq) ++
        rows("decontam", cont.map(_.getLong(0).toString).toSeq) ++
        rows("knn", knn.map(r => r.getLong(0).toString).toSeq) ++
        Seq(s"pack\t${packed.length}|${keepQ.size}")
    Op(id, "pipeline", ms, nDocs, if (full) out else Nil, None,
      Map("digest" -> Render.digest(out)))
  }

  // ------------------------------------------------------------ layer table

  /** Per-layer figures of a traced run, per operation (request, batch
    * or pass) unless the name says otherwise. */
  def layers(res: RunResult): Map[String, Any] = {
    val ops = res.ops.filter(_.error.isEmpty)
    val n = math.max(1, ops.size).toDouble
    val all = trace.phases.filter(_.cls != "model")
    def per(x: Double): Double = x / n
    val jobs = trace.allJobs.filter(j => !j.group.startsWith("setup/"))
    val execPs = trace.phasesNamed("execute")
    val m = mutable.LinkedHashMap.empty[String, Any]
    val builder = trace.phasesNamed("builder")
    m("builder.ms") = per(trace.phaseMs(builder))
    m("builder.jobs") = per(trace.jobCount(builder))
    for (c <- Seq("search", "graph", "sparql", "gremlin", "consume")) {
      val nc = math.max(1, ops.count(_.cls == c)).toDouble
      val mine = all.filter(_.cls == c)
      m(s"$c.builder_ms") = trace.phaseMs(mine.filter(_.name == "builder")) / nc
      m(s"$c.builder_jobs") = trace.jobCount(mine.filter(_.name == "builder")) / nc
      m(s"$c.exec_jobs") = trace.jobCount(mine.filter(_.name == "execute")) / nc
      m(s"$c.codegen_compiles") = trace.compileCount(mine) / nc
    }
    m("codegen.compiles") = per(trace.compileCount(all).toDouble)
    m("codegen.ms") = per(trace.codegenMs(all))
    m("catalyst.analysis_ms") = per(Render.catalyst("analysis"))
    m("catalyst.optimization_ms") = per(Render.catalyst("optimization"))
    m("catalyst.planning_ms") = per(Render.catalyst("planning"))
    val execMs = if (execPs.nonEmpty) trace.phaseMs(execPs) - trace.codegenMs(execPs)
                 else trace.phaseMs(all) - trace.codegenMs(all)
    m("exec.ms") = per(execMs)
    m("exec.jobs") = per(jobs.size)
    m("exec.stages") = per(jobs.map(_.stagesDone).sum)
    m("exec.tasks") = per(jobs.map(_.tasks).sum)
    val cpuMs = jobs.map(_.cpuNs).sum / 1e6
    m("exec.task_cpu_ms") = per(cpuMs)
    m("exec.cpu_util") = cpuMs / (res.windowS * 1000 * p("cores").toInt)
    m("exec.shuffle_read_bytes") = per(jobs.map(_.shuffleRead).sum.toDouble)
    m("exec.shuffle_write_bytes") = per(jobs.map(_.shuffleWrite).sum.toDouble)
    m("exec.spill_bytes") = per(jobs.map(_.spill).sum.toDouble)
    m("exec.gc_ms") = per(jobs.map(_.gcMs).sum.toDouble)
    for (s <- Seq("quality", "dedup", "components", "decontam", "knn", "pack")) {
      val ps = trace.phasesNamed(s)
      m(s"$s.ms") = per(trace.phaseMs(ps))
      m(s"$s.jobs") = per(trace.jobCount(ps))
      m(s"$s.shuffle_bytes") = per(trace.shuffleBytes(ps).toDouble)
    }
    m("result.ms") = per(trace.phaseMs(trace.phasesNamed("format") ++
      trace.phasesNamed("result")))
    m("result.bytes") = per(Render.bytes.toDouble)
    m("qp.parse_ms") = per(trace.phaseMs(trace.phasesNamed("qp_parse")))
    m("sparql.parse_ms") = per(trace.phaseMs(trace.phasesNamed("sparql_parse")))
    val cmd = trace.phasesNamed("commands"); val mrg = trace.phasesNamed("merge")
    m("ingest.commands_ms") = per(trace.phaseMs(cmd))
    m("ingest.commands_jobs") = per(trace.jobCount(cmd))
    m("merger.ms") = per(trace.phaseMs(mrg))
    m("merger.jobs") = per(trace.jobCount(mrg))
    m("merger.parents_rewritten") =
      per(ops.map(_.extra.getOrElse("parents_rewritten", 0).asInstanceOf[Int]).sum)
    m("readback.ms") = per(trace.phaseMs(trace.phasesNamed("readback")))
    val inBytes = ops.map(_.extra.getOrElse("input_bytes", 0L).asInstanceOf[Long]).sum
    m("store.bytes_written_per_input_byte") =
      if (inBytes == 0) 0.0
      else res.info.getOrElse("store_written_bytes", 0L).asInstanceOf[Long].toDouble / inBytes
    m("store.files_written") = per(res.info.getOrElse("store_files_written", 0).asInstanceOf[Int])
    val setupN = math.max(1, res.setups.size).toDouble
    val etl = trace.phasesNamed("etl", Some("model"))
    m("model.etl_ms") = trace.phaseMs(etl)
    m("model.etl_jobs") = trace.jobCount(etl).toDouble
    m("model.clone_ms") = trace.phaseMs(trace.phasesNamed("clone", Some("model"))) / setupN
    m("model.open_ms") = trace.phaseMs(trace.phasesNamed("open", Some("model"))) / setupN
    m.toMap
  }
}

/** Output rendering and the canonical rows the oracle compares. */
object Render {
  private val catalystMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  var bytes: Long = 0L

  def apply(fmt: String, df: DataFrame): DataFrame = fmt match {
    case "json" => df.select(to_json(struct(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)))
    case "text" => Formatters.text(df)
    case "jsonl" => Formatters.jsonl(df)
    case "csv" => Formatters.csv(df, Seq("name", "acctbal"))
    case "yaml" => Formatters.yaml(df)
    case "atom" => Formatters.atomEntries(df)
    case "ntriples" => Formatters.ntriples(df)
    case "ttl" => Formatters.ttl(df)
    case "jsonld" => Formatters.jsonldDocs(df)
    case other => sys.error(s"unknown format $other")
  }

  /** Catalyst phase times of the rendered frame (its QueryPlanningTracker). */
  def noteCatalyst(df: DataFrame): Unit =
    df.queryExecution.tracker.phases.foreach { case (k, v) =>
      catalystMs(k) += v.durationMs.toDouble
    }

  def catalyst(phase: String): Double = catalystMs(phase)

  private val Subject = "^<cmwell:/([^>]*)>".r.unanchored
  private val JsonPath = "\"path\":\"([^\"]*)\"".r.unanchored
  private val YamlPath = "\n  path: ([^\n]*)".r.unanchored
  private val AtomId = "<id>([^<]*)</id>".r.unanchored
  private val LdId = "^\\{\"@id\":\"cmwell:/([^\"]*)\"".r.unanchored

  /** Rendered lines → what the oracle compares: infoton paths (one per
    * infoton; subject-per-statement formats collapse to distinct
    * subjects) or, for tabular results, the JSON rows themselves. A
    * consume line carries its chunk index before a tab. */
  def canonical(fmt: String, lines: Seq[String]): Seq[String] = {
    def path(l: String): String = (fmt match {
      case "text" => Some(l)
      case "csv" => Some(l.takeWhile(_ != ','))
      case "jsonl" => JsonPath.findFirstMatchIn(l).map(_.group(1))
      case "yaml" => YamlPath.findFirstMatchIn(l).map(_.group(1))
      case "atom" => AtomId.findFirstMatchIn(l).map(_.group(1))
      case "ntriples" | "ttl" => Subject.findFirstMatchIn(l).map(_.group(1))
      case "jsonld" => LdId.findFirstMatchIn(l).map(_.group(1))
      case _ => Some(l)
    }).getOrElse(sys.error(s"no path in $fmt line: ${l.take(200)}"))
    val out = lines.map { l =>
      val tab = l.indexOf('\t')
      if (tab >= 0 && l.take(tab).forall(_.isDigit))
        l.take(tab) + "\t" + path(l.drop(tab + 1))
      else path(l)
    }
    if (fmt == "ntriples" || fmt == "ttl" || fmt == "jsonld") out.distinct else out
  }

  def num(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString

  def cell(v: Any): String = v match {
    case null => ""
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case other => other.toString
  }

  def digest(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach(r => md.update((r + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Store layout accounting (untimed): file → size under `infotons/`. */
object Store {
  def files(dir: String): Map[String, Long] = {
    val root = Paths.get(dir, "infotons")
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .filter(f => !f.getFileName.toString.startsWith("."))
      .map(f => root.relativize(f).toString -> Files.size(f)).toMap
    finally s.close()
  }
}
