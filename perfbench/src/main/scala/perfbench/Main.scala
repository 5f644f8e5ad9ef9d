package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.run.Pipeline
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import java.util.{LinkedHashMap => JMap}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark entry point (launched by `perfbench/run.py`).
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --inputs <dir> --spec <workloads.json>
  *   [--graph <dir>]
  *        perfbench.Main --prepare <dir> --work <dir> --inputs <dir>
  *
  * `--inputs` is an input set `gen.py` wrote. `--prepare` builds the served
  * graph of a serving workload into `<dir>` and checks it; `--graph` names
  * that graph for the runs of the workload.
  *
  * A batch workload times repeated `Pipeline.run` builds; a serving
  * workload restores its prepared graph and times a closed loop of requests
  * through `KgSession` and `Enricher`. Both report the same end-to-end
  * metrics over their unit of work (a build, or a request). The last stdout
  * line is the result object; the line before it describes the run. */
object Main {

  /** A workload of `perfbench/workloads.json`: a batch of at least
    * `minOps` timed builds, or (`serve`) a serving loop of at least `minOps`
    * ten-request blocks; `warmupOps` untimed ones of the same kind come
    * first, in set-up. */
  final case class Workload(name: String, serve: Boolean, warmupOps: Int, minOps: Int,
      spec: JsonNode)

  def workload(specFile: Path, name: String): Workload = {
    val w = mapper.readTree(specFile.toFile).get(name)
    require(w != null, s"unknown workload: $name")
    Workload(name, w.get("serve").asBoolean(), w.get("warmup_ops").asInt(),
      w.get("min_ops").asInt(), w)
  }

  /** `graft.run.Main`'s session settings (its default shuffle width). */
  val sessionSettings: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def path(k: String) = Path.of(opts(k)).toAbsolutePath
    val in = Inputs.load(path("inputs"))
    val ok =
      if (opts.contains("prepare")) prepare(in, path("prepare"), path("work"))
      else new Run(workload(path("spec"), opts("workload")), opts("seed").toLong,
        opts("seconds").toDouble, opts.getOrElse("trace", "0") == "1", path("work"), in,
        opts.get("graph").map(_ => path("graph"))).apply()
    sys.exit(if (ok) 0 else 1)
  }

  /** A Spark session at `local[nproc]` with [[sessionSettings]], spilling
    * under `runDir`. */
  def session(runDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .appName("graft-perfbench")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config(sessionSettings)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Marker of a prepared graph; holds its sum(n_obs). */
  val Checked = "_CHECKED"

  /** Builds the served graph of a serving workload's fixed dataset into
    * `graph` with `Pipeline.run`, checks it (P = R = 1.0) and marks it.
    * This runs in its own JVM before the measured one, so no run's set-up
    * time or peak RSS depends on whether the graph was built already. */
  def prepare(in: Inputs, graph: Path, work: Path): Boolean = {
    val runDir = work.resolve(s"prepare-${ProcessHandle.current().pid()}")
    val spark = session(runDir)
    try {
      val build = new Build(spark, in, runDir.resolve("build"))
      val c = build.check(build.run(), None)
      if (c.ok) {
        Serve.Tables.foreach(t => Util.copyTree(build.workDir.resolve(t), graph.resolve(t)))
        Files.writeString(graph.resolve(Checked), c.nObs.toString)
      } else Util.log(s"served graph failed its check: ${c.message}")
      c.ok
    } finally {
      spark.stop()
      Util.deleteTree(runDir)
    }
  }

  private[perfbench] val mapper = new ObjectMapper()

  def jmap(kvs: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any](); kvs.foreach { case (k, v) => m.put(k, v) }; m
  }
}

/** One benchmark process: set-up, then the measured phase, then output. */
final class Run(w: Main.Workload, seed: Long, seconds: Double, trace: Boolean,
    work: Path, in: Inputs, servedGraph: Option[Path]) {
  import Main.jmap

  private var attempted = 0L
  private var failed = 0L
  private val failures = ArrayBuffer.empty[String]

  private def checked(what: String)(ok: Boolean): Boolean = synchronized {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
    ok
  }

  /** Runs `f`; an exception counts as a failed operation. */
  private def attempt(what: String)(f: => Boolean): Boolean =
    try checked(what)(f)
    catch { case e: Exception => checked(s"$what: $e")(false) }

  def apply(): Boolean = {
    val runDir = work.resolve(s"run-${ProcessHandle.current().pid()}")
    Files.createDirectories(runDir)
    try measure(runDir)
    finally {
      SparkSession.getActiveSession.foreach(_.stop())
      Util.deleteTree(runDir)
    }
  }

  /** A graph being served, restorable from `base`. `setupS` is its
    * warm-up plus the median of three restores. */
  private final class Serving(val serve: Serve, val base: Path, val setupS: Double)

  /** Serving set-up over the graph in `graph`: a restored copy, the
    * Enricher, and one untimed request of each kind. */
  private def openServing(spark: SparkSession, in: Inputs, graph: Path, runDir: Path,
      t: Tracer): Serving = {
    val t0 = System.nanoTime()
    val serve = new Serve(spark, in, runDir.resolve("serve"))
    serve.restore(graph)
    val rng = new java.util.Random(seed ^ 0x5eed)
    // every kind of request at least once: this builds the Enricher's
    // co-occurrence table and warms each request's code path
    val warmOps = Iterator.continually(Serve.AllOps).flatten
      .take(math.max(Serve.AllOps.size, if (w.serve) w.warmupOps else 0))
    warmOps.foreach(op => attempt(s"warm-up $op")(serve.op(op, rng, t)))
    val warmS = Util.seconds(t0)
    // a traced run keeps the state its writes left (the delta chain)
    val restores = if (t.enabled) Seq(0.0) else (1 to 3).map { _ =>
      val r0 = System.nanoTime(); serve.restore(graph); Util.seconds(r0)
    }
    new Serving(serve, graph, warmS + Stats.median(restores))
  }

  private def measure(runDir: Path): Boolean = {
    val spark = Main.session(runDir)
    val counters = new Counters(spark.sparkContext)
    spark.sparkContext.addSparkListener(counters)
    val sessionS = Util.uptime()

    // ---------------------------------------------------------- set-up
    // batch: untimed builds warm the JIT; serving: the prepared graph
    val s0 = System.nanoTime()
    val build = new Build(spark, in, runDir.resolve("build"))
    var nObs: Option[Long] = None
    val graph =
      if (w.serve) {
        val g = servedGraph.getOrElse(throw new IllegalArgumentException(
          s"serving workload ${w.name} needs --graph"))
        nObs = Some(Files.readString(g.resolve(Main.Checked)).trim.toLong)
        g
      } else {
        for (_ <- 0 to (if (trace) 0 else w.warmupOps)) attempt("set-up build") {
          val c = build.check(build.run(), nObs)
          nObs = Some(c.nObs); if (!c.ok) failures += c.message
          c.ok
        }
        val g = runDir.resolve("graph")
        Serve.Tables.foreach(t => Util.copyTree(build.workDir.resolve(t), g.resolve(t)))
        g
      }
    val warmS = Util.seconds(s0)
    val serving =
      if (w.serve && !trace) Some(openServing(spark, in, graph, runDir, new Tracer(false, "", counters)))
      else None
    val serveS = serving.map(_.setupS).getOrElse(0.0)
    val setupS = sessionS + warmS + serveS
    Util.log(f"set-up done: $setupS%.2f s")

    // -------------------------------------------------------- measured
    val result =
      if (trace) traced(spark, counters, build, in, graph, runDir, nObs)
      else if (w.serve) served(counters, serving.get)
      else batch(counters, build, nObs)

    val info = jmap(
      "workload" -> w.name, "seed" -> seed, "spec" -> w.spec, "inputs" -> in.dir.toString,
      "ontology" -> jmap(
        "concepts" -> in.ontology.names.size, "triples" -> in.ontology.triples.size,
        "predicates" -> in.ontology.preds.size, "decoys" -> in.ontology.decoys.size),
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "session_settings" -> jmap(Main.sessionSettings.toSeq: _*),
      "setup_parts_s" -> jmap(
        "session" -> sessionS, "builds" -> warmS, "serving" -> serveS),
      "error_rate" -> failed.toDouble / math.max(1L, attempted),
      "failures" -> failures.asJava)
    result.info.foreach { case (k, v) => info.put(k, v) }
    println(Main.mapper.writeValueAsString(jmap("info" -> info)))
    result.spanTree.foreach(t => println(Main.mapper.writeValueAsString(jmap("span_tree" -> t))))

    val metrics = new JMap[String, Any]()
    val all = if (trace) result.metrics else ("setup_s", "s", setupS) +: result.metrics
    all.foreach { case (k, unit, v) => metrics.put(k, jmap("value" -> v, "unit" -> unit)) }
    val correct = failed == 0
    println(Main.mapper.writeValueAsString(jmap("correct" -> correct,
      "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics)))
    correct
  }

  private final class Result(val metrics: Seq[(String, String, Double)],
      val info: Seq[(String, Any)], val spanTree: Option[Any])

  /** One timed `Pipeline.run` and its check; None if it threw. */
  private def timedBuild(counters: Counters, build: Build,
      nObs: Option[Long]): Option[(Double, Double, Long, Pipeline.Out)] = {
    var res: Option[(Double, Double, Long, Pipeline.Out)] = None
    attempt("timed build") {
      val scope = counters.group("build")
      val t0 = System.nanoTime()
      val out = scope.run(build.run())
      val wall = Util.seconds(t0)
      val cpu = scope.finish()("executor_cpu_s")
      Util.log(f"timed build $wall%.2f s")
      val c = build.check(out, nObs)
      if (!c.ok) failures += c.message
      res = Some((wall, cpu, c.nObs, out))
      c.ok
    }
    res
  }

  /** Timed builds until the measured seconds are up (at least `minOps`). */
  private def batch(counters: Counters, build: Build, nObs: Option[Long]): Result = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val builds = ArrayBuffer.empty[(Double, Double, Long)]
    var tries = 0
    while (tries < w.minOps || System.nanoTime() < deadline) {
      timedBuild(counters, build, nObs).foreach { case (wall, cpu, n, _) => builds += ((wall, cpu, n)) }
      tries += 1
    }
    require(builds.nonEmpty, "every timed build failed")
    val walls = builds.map(_._1 * 1e3).toSeq
    val tail = Stats.tail(walls)
    val p50 = Stats.p50(walls)
    new Result(Seq(
      ("op_p50_ms", "ms", p50),
      ("op_tail_ms", "ms", tail.value),
      ("throughput_per_s", "1/s", builds.head._3 / (p50 / 1e3)),
      ("cpu_ms_per_op", "ms", Stats.p50(builds.map(_._2 * 1e3).toSeq)),
      ("peak_rss_mb", "MiB", Util.peakRssMb())),
      Seq("op" -> "Pipeline.run", "build_walls_s" -> builds.map(_._1).asJava,
        "n_obs" -> builds.head._3, "tail" -> tailInfo(tail)),
      None)
  }

  private def tailInfo(t: Stats.Tail) =
    jmap("percentile" -> t.percentile, "samples" -> t.samples, "beyond" -> t.beyond)

  /** Serving blocks until `deadline` (and at least `minBlocks`), on one
    * client thread. Returns per-operation latencies (ms) and the wall time. */
  private def serveLoop(s: Serving, deadline: Long, minBlocks: Int, t: Tracer) = {
    val rng = new java.util.Random(seed * 31 + 7)
    val lat = ArrayBuffer.empty[(Serve.Op, Double)]
    var wall = 0.0
    val parent = t.current
    val client = new Thread(() => t.under(parent) {
      val t0 = System.nanoTime()
      var b = 0
      while (b < minBlocks || System.nanoTime() < deadline) {
        val b0 = System.nanoTime()
        for (op <- Serve.block(b, rng)) {
          val o0 = System.nanoTime()
          if (attempt(s"serve $op")(s.serve.op(op, rng, t)))
            lat += ((op, (System.nanoTime() - o0) / 1e6))
        }
        Util.log(f"serving block $b: ${Util.seconds(b0)}%.2f s")
        b += 1
      }
      wall = Util.seconds(t0)
    }, "perfbench-client")
    client.start(); client.join()
    (lat.toVector, wall)
  }

  /** The closed serving loop for the measured seconds (at least `minOps`
    * blocks). */
  private def served(counters: Counters, s: Serving): Result = {
    s.serve.restore(s.base)
    val scope = counters.group("serve")
    val (lat, wall) = scope.run(serveLoop(s,
      System.nanoTime() + (seconds * 1e9).toLong, w.minOps, new Tracer(false, "", counters)))
    val cpu = scope.finish()("executor_cpu_s")
    val all = lat.map(_._2)
    val reads = lat.filterNot(_._1.write).map(_._2)
    val writes = lat.filter(_._1.write).map(_._2)
    val tail = Stats.tail(all)
    new Result(Seq(
      ("op_p50_ms", "ms", Stats.p50(all)),
      ("op_tail_ms", "ms", tail.value),
      ("throughput_per_s", "1/s", lat.size / wall),
      ("cpu_ms_per_op", "ms", cpu * 1e3 / lat.size),
      ("peak_rss_mb", "MiB", Util.peakRssMb())),
      Seq("op" -> "one request of the 9:1 read/write mix", "serve_wall_s" -> wall,
        "tail" -> tailInfo(tail),
        "read_p50_ms" -> Stats.p50(reads), "read_tail" -> tailInfo(Stats.tail(reads)),
        "write_p50_ms" -> Stats.p50(writes), "write_tail" -> tailInfo(Stats.tail(writes)),
        "delta_chain_len" -> s.serve.chainLength),
      None)
  }

  /** The traced run: the build layers on this workload's inputs (after an
    * untimed warm-up build where set-up did not build), then one traced
    * request of each kind over the set-up graph. */
  private def traced(spark: SparkSession, counters: Counters, build: Build, in: Inputs,
      graph: Path, runDir: Path, nObs: Option[Long]): Result = {
    val t = new Tracer(true, s"${w.name}-$seed", counters)
    if (w.serve) attempt("warm-up build")(build.check(build.run(), nObs).ok)
    // untraced reference build, then the traced composition of the same job
    val (untracedWall, _, _, out) = timedBuild(counters, build, nObs)
      .getOrElse(throw new IllegalStateException("the untraced reference build failed"))
    val want = build.edgeKeys(out.edges)
    val t0 = System.nanoTime()
    val tracedEdges = build.traced(t)
    val tracedWall = Util.seconds(t0)
    attempt("ladder drift guard: traced edges equal Pipeline.run's") {
      build.edgeKeys(tracedEdges) == want
    }
    build.ambiguousAliases.foreach(al => attempt("ambiguity gate is on for the decoy aliases") {
      graft.link.EntityLink.hasAmbiguity(al)
    })
    val ladder = build.ladder(t)
    val serving = t.span("serve")(openServing(spark, in, graph, runDir, t))

    val spans = t.spans
    val self = SpanMath.selfNs(spans)
    def selfS(name: String) = spans.filter(_.name == name).map(s => self(s.id) / 1e9).sum
    def medMs(name: String) = {
      val d = spans.filter(_.name == name).map(_.durNs / 1e6)
      if (checked(s"traced run recorded a $name span")(d.nonEmpty)) Stats.median(d) else 0.0
    }
    val r = ladder.rungs
    val roots = spans.filter(_.parent == -1)
    def total(k: String) = {
      val kids = spans.groupBy(_.parent)
      def incl(s: SpanRec): Double = s.counters(k) + kids.getOrElse(s.id, Nil).map(incl).sum
      roots.map(incl).sum
    }
    val tree = spans.map { s =>
      jmap("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self(s.id),
        "counters" -> jmap(s.counters.toSeq: _*))
    }.asJava
    val out2 = Seq(
      ("tables.scan_s", "s", r("scan")),
      ("extract.kernel_s", "s", r("extract") - r("scan")),
      ("extract.raw_triples", "count", ladder.raw.toDouble),
      ("extract.valid_ratio", "ratio", ladder.valid.toDouble / ladder.raw),
      ("graph.surfagg_s", "s", r("surfagg_noprov") - r("extract")),
      ("graph.distinct_surfaces", "count", ladder.surfaces.toDouble),
      ("graph.compaction_ratio", "ratio", ladder.valid.toDouble / ladder.surfaces),
      ("functions.provenance_s", "s", r("surfagg") - r("surfagg_noprov")),
      ("link.surface_link_s", "s", r("surface_link") - r("surfagg")),
      ("link.row_link_s", "s", r("row_link") - r("extract")),
      ("link.linked_ratio", "ratio", ladder.linked.toDouble / ladder.valid),
      ("extract.dict_build_s", "s", selfS("extract.dict_build") /
        spans.count(_.name == "extract.dict_build")),
      ("canon.canonicalize_s", "s", selfS("canon.canonicalize")),
      ("graph.edges_s", "s", selfS("graph.edges")),
      ("graph.nodes_s", "s", selfS("graph.nodes")),
      ("graph.triples_view_s", "s", selfS("graph.triples_view")),
      ("tables.commit_s", "s", selfS("tables.commit")),
      ("graph.search_ms", "ms", medMs("graph.search")),
      ("graph.id_of_ms", "ms", medMs("graph.id_of")),
      ("graph.statistics_ms", "ms", medMs("graph.statistics")),
      ("graph.most_connected_ms", "ms", medMs("graph.most_connected")),
      ("graph.reachable_ms", "ms", medMs("graph.reachable")),
      ("tables.read_current_ms", "ms", medMs("tables.read_current")),
      ("tables.delta_chain_len", "count", serving.serve.chainLength.toDouble),
      ("tables.commit_delta_ms", "ms", medMs("tables.commit_delta")),
      ("run.enrich_tick_ms", "ms", medMs("run.enrich_tick")),
      ("run.enrich_yield", "ratio", serving.serve.enriched.toDouble / math.max(1L, serving.serve.requested)),
      ("spark.executor_cpu_s", "s", total("executor_cpu_s")),
      ("spark.gc_s", "s", total("gc_s")),
      ("spark.shuffle_write_bytes", "bytes", total("shuffle_write_bytes")),
      ("spark.spill_bytes", "bytes", total("spill_bytes")),
      ("spark.jobs", "count", total("jobs")),
      ("trace.overhead_s", "s", tracedWall - untracedWall))
    new Result(out2, Seq("untraced_build_s" -> untracedWall, "traced_build_s" -> tracedWall,
      "ladder_rungs_s" -> jmap(r.toSeq: _*)), Some(tree))
  }
}
