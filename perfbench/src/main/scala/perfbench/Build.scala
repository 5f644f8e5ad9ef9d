package perfbench

import graft.extract.{ByteAhoCorasick, Extract, Validity}
import graft.functions.BoundedCollectList
import graft.graph.Materialize
import graft.link.EntityLink
import graft.run.Pipeline
import graft.tables.TableIO
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.sql.functions._

import java.nio.file.Path

/** Builds one graph from generated inputs, untimed or traced, and checks
  * the result against the ontology the inputs were generated from. */
final class Build(spark: SparkSession, in: Inputs, val workDir: Path) {

  val conf: Pipeline.Conf = Pipeline.Conf(
    workDir = workDir.toString, goldenDir = in.goldenDir, fastExtract = true,
    docsDirOverride = Some(in.docsDir))

  def aliases: DataFrame = spark.read.parquet(in.aliasesDir)

  /** The alias table with decoys, where the shape has one. */
  def ambiguousAliases: Option[DataFrame] = {
    val dir = in.dir.resolve("aliases_ambiguous")
    if (java.nio.file.Files.isDirectory(dir)) Some(spark.read.parquet(dir.toString)) else None
  }

  /** The pipeline as a user runs it, on a fresh work directory. */
  def run(): Pipeline.Out = {
    Util.deleteTree(workDir)
    Pipeline.run(spark, conf)
  }

  /** Committed edges as comparable values: (src_id, dst_id, pred, n_obs,
    * provenance). */
  def edgeKeys(edges: DataFrame): Set[(Long, Long, String, Long, Seq[String])] =
    edges.select("src_id", "dst_id", "pred", "n_obs", "provenance").collect().map { r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getSeq[Row](4).map(_.toSeq.mkString("|")))
    }.toSet

  /** Output check of one build: the triples view equals the ontology
    * (P = R = 1.0) and sum(n_obs) equals the previous build's. */
  final case class Checked(ok: Boolean, nObs: Long, message: String)

  def check(out: Pipeline.Out, expectNObs: Option[Long]): Checked = {
    import spark.implicits._
    val emitted = out.triplesView.as[(String, String, String)].collect().toSet
    val golden = in.ontology.normalizedTriples
    val tp = (emitted & golden).size
    val nObs = out.edges.agg(sum("n_obs")).head().getLong(0)
    val prOk = tp == golden.size && emitted.size == golden.size
    val nObsOk = expectNObs.forall(_ == nObs)
    val msg =
      if (!prOk) s"P/R not 1.0: emitted=${emitted.size} golden=${golden.size} tp=$tp"
      else if (!nObsOk) s"sum(n_obs)=$nObs differs from ${expectNObs.get}"
      else "ok"
    Checked(prOk && nObsOk, nObs, msg)
  }

  // ------------------------------------------------------------ traced
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The same composition `Pipeline.run(fastExtract = true)` makes, from the
    * same public functions, with a span around each layer. Returns the
    * committed edges for the drift guard. */
  def traced(t: Tracer): DataFrame = t.span("run.build") {
    Util.deleteTree(workDir)
    val al = aliases
    val (dict, preds) = dictionaries(t, al)
    val ambiguous = EntityLink.hasAmbiguity(al)
    val raw = Extract.rawTriplesCols(docs, dict, preds)
    val pre = t.span("fused") {
      (if (ambiguous) Materialize.preAggregate(EntityLink.link(spark, raw, al, docsText))
       else Materialize.preAggregateBySurface(raw.filter(Validity.validPred(col("pred"))), al))
        .localCheckpoint()
    }
    val resolve = t.span("canon.canonicalize")(Materialize.canonicalize(spark, pre, al))
    val edgesT = t.span("graph.edges")(Materialize.buildEdgesAgg(pre, resolve).localCheckpoint())
    t.span("tables.commit")(TableIO.commitSnapshot(edgesT, Pipeline.edgesDir(conf), "edges"))
    val nodesT = t.span("graph.nodes")(Materialize.buildNodes(resolve, edgesT).localCheckpoint())
    t.span("tables.commit")(TableIO.commitSnapshot(nodesT, Pipeline.nodesDir(conf), "nodes"))
    val tv = t.span("graph.triples_view") {
      Materialize.triplesView(Materialize.Graph(nodesT, edgesT)).localCheckpoint()
    }
    t.span("tables.commit")(TableIO.commitSnapshot(tv, Pipeline.triplesDir(conf), "triples_view"))
    edgesT
  }

  private def docs: DataFrame = spark.read.parquet(in.docsDir).drop("bucket")

  private def docsText: DataFrame = spark.read.parquet(in.docsDir)
    .select(col("doc_id"), explode(col("spans")).as("s"))
    .filter(col("s.kind") === "text")
    .select(col("doc_id"), col("s.text").as("text"))

  private def dictionaries(t: Tracer, al: DataFrame) = t.span("extract.dict_build") {
    import spark.implicits._
    val aliasList = al.select("alias").as[String].collect()
    val sc = spark.sparkContext
    (sc.broadcast(ByteAhoCorasick(aliasList)),
      sc.broadcast(ByteAhoCorasick(in.ontology.triples.map(_._2).distinct)))
  }

  /** Row counts and rung times of the noop-sink ladder. */
  final case class Ladder(rungs: Map[String, Double], raw: Long, valid: Long,
      surfaces: Long, linked: Long)

  private def boundedCollect(e: Expression): Boolean = e.exists(_.isInstanceOf[BoundedCollectList])

  /** The per-surface aggregate `Materialize.preAggregateBySurface` runs
    * before linking, cut from that function's own analyzed plan (the
    * innermost aggregate that calls `bounded_collect_list`), without and
    * with its provenance column. The aggregate rungs are therefore the
    * program's code, not a copy that could drift from it; a plan without
    * exactly one such aggregate fails the traced run. */
  def surfaceAggregates(rawValid: DataFrame, al: DataFrame): (DataFrame, DataFrame) = {
    def provAgg(p: LogicalPlan) = p match {
      case a: Aggregate => a.aggregateExpressions.exists(boundedCollect)
      case _ => false
    }
    val plan = Materialize.preAggregateBySurface(rawValid, al).queryExecution.analyzed
    val inner = plan.collect { case a: Aggregate if provAgg(a) && !a.child.exists(provAgg) => a }
    require(inner.size == 1, "ladder: expected one per-surface bounded_collect_list aggregate " +
      s"in preAggregateBySurface's plan, found ${inner.size}")
    val a = inner.head
    (Internals.ofRows(spark, a.copy(aggregateExpressions =
      a.aggregateExpressions.filterNot(boundedCollect))), Internals.ofRows(spark, a))
  }

  /** Prefixes of the fused job, each written to the noop sink: scan →
    * extract → surface aggregate → with provenance → surface link, plus the
    * per-row link over extract (against the decoy alias table where there
    * is one, so it takes the ambiguous path), each run once. Row
    * counts come from observed metrics: raw and valid rows from one extra
    * extract pass, distinct surfaces from one extra pass of the aggregate
    * rung without provenance, linked rows from the row-link rung. */
  def ladder(t: Tracer): Ladder = t.span("ladder") {
    val al = aliases
    val (dict, preds) = dictionaries(t, al)
    def raw = Extract.rawTriplesCols(docs, dict, preds)
    def valid(r: DataFrame) = r.filter(Validity.validPred(col("pred")))
    def surf(prov: Boolean) = {
      val (without, withProv) = surfaceAggregates(valid(raw), al)
      if (prov) withProv else without
    }
    val linkObs = new Observation("linked")
    val rungs = Seq[(String, () => DataFrame)](
      "scan" -> (() => docs),
      "extract" -> (() => raw),
      "surfagg_noprov" -> (() => surf(prov = false)),
      "surfagg" -> (() => surf(prov = true)),
      "surface_link" -> (() => Materialize.preAggregateBySurface(valid(raw), al)),
      "row_link" -> (() => Materialize.preAggregate(
        EntityLink.link(spark, raw, ambiguousAliases.getOrElse(al), docsText)
          .observe(linkObs, count(lit(1)).as("n")))))
    val times = rungs.map { case (name, df) =>
      val t0 = System.nanoTime()
      t.span(s"ladder.$name")(noop(df()))
      name -> Util.seconds(t0)
    }.toMap
    val rawObs = new Observation("raw")
    val surfObs = new Observation("surfaces")
    t.span("ladder.counts") {
      noop(raw.observe(rawObs, count(lit(1)).as("raw"),
        sum(Validity.validPred(col("pred")).cast("long")).as("valid")))
      noop(surf(prov = false).observe(surfObs, count(lit(1)).as("n")))
    }
    def long(o: Observation, k: String) = o.get(k).asInstanceOf[Long]
    Ladder(times, long(rawObs, "raw"), long(rawObs, "valid"), long(surfObs, "n"),
      long(linkObs, "n"))
  }
}
