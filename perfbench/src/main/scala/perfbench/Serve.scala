package perfbench

import graft.extract.{ByteAhoCorasick, Extract}
import graft.graph.{KgQueries, KgSession}
import graft.run.{Enricher, Pipeline}
import graft.tables.TableIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Path

/** The serving side: a KgSession over a restored copy of a built graph, an
  * Enricher over the corpus mentions, and a client that issues a seeded
  * 9:1 read/write mix and checks every answer against what it expects. */
final class Serve(spark: SparkSession, in: Inputs, val dir: Path) {
  import Serve._

  /** (doc_id, canonical) per extracted triple endpoint of the first
    * [[EvidenceDocs]] documents — the Enricher's co-occurrence evidence. */
  private def mentions: DataFrame = {
    import spark.implicits._
    val aliases = spark.read.parquet(in.aliasesDir)
    val sc = spark.sparkContext
    val dict = sc.broadcast(ByteAhoCorasick(aliases.select("alias").as[String].collect()))
    val preds = sc.broadcast(ByteAhoCorasick(in.ontology.triples.map(_._2).distinct))
    val docs = spark.read.parquet(in.docsDir).drop("bucket")
      .filter(col("doc_id") < f"doc-$EvidenceDocs%09d")
    Extract.rawTriplesCols(docs, dict, preds)
      .select(col("doc_id"), explode(array(col("subj"), col("obj"))).as("surface"))
      .join(broadcast(aliases.select("alias", "canonical")), col("surface") === col("alias"))
      .select("doc_id", "canonical")
  }

  val batch = 8
  val kg: KgSession = KgSession.open(spark, dir.toString)
  val enricher = new Enricher(kg, mentions,
    Enricher.Conf(minDocs = 1, batch = batch, maxRelationships = Long.MaxValue))

  private val edgesDir = Pipeline.edgesDir(Pipeline.Conf(workDir = dir.toString))

  // client-side expectations, reset by restore()
  private var ids: Map[String, Long] = Map.empty
  private var nodeCount = 0L
  private var edgeCount = 0L
  private var manualKeys = Set.empty[(Long, Long)]

  /** Replace the served graph with a copy of `base` (a built work dir). */
  def restore(base: Path): Unit = {
    Util.deleteTree(dir)
    Tables.foreach(t => Util.copyTree(base.resolve(t), dir.resolve(t)))
    ids = kg.nodes.select("name", "node_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (n, e) = kg.statistics()
    nodeCount = n; edgeCount = e; manualKeys = Set.empty
  }

  def chainLength: Int =
    TableIO.snapshotChain(edgesDir, TableIO.currentSnapshotId(edgesDir).get).length

  /** Runs one operation; returns whether its answer passed the check. */
  def op(kind: Op, rng: java.util.Random, t: Tracer): Boolean = {
    val names = in.ontology.names
    def anyName = names(rng.nextInt(names.length))
    kind match {
      case Search =>
        val w = anyName.split(' ')(rng.nextInt(2))
        val q = w.substring(0, 4)
        val got = t.span("graph.search")(kg.search(q, 10))
        got.nonEmpty && got.size <= 10 && got.forall(_.contains(q))
      case IdOf =>
        val n = anyName
        t.span("graph.id_of")(kg.idOf(n)) == ids.get(n)
      case Statistics =>
        t.span("graph.statistics")(kg.statistics()) == ((nodeCount, edgeCount))
      case MostConnected =>
        val rows = t.span("graph.most_connected")(kg.mostConnected(5).collect())
        val deg = rows.map(_.getAs[Long]("degree"))
        rows.length == 5 && deg.sameElements(deg.sortBy(-_))
      case Reachable =>
        val seed = anyName
        val rows = t.span("graph.reachable")(kg.reachableFrom(seed, 2, 500).collect())
        rows.exists(r => r.getAs[String]("name") == seed && r.getAs[Int]("hops") == 0) &&
          rows.forall(_.getAs[Int]("hops") <= 2)
      case AddEdge =>
        val a = ids(anyName); val b = ids(anyName)
        t.span("tables.commit_delta")(kg.addEdge(a, b, "bench link"))
        if (!manualKeys.contains((a, b))) { manualKeys += ((a, b)); edgeCount += 1 }
        readProbe(t); true
      case EnrichTick =>
        val n = t.span("run.enrich_tick")(enricher.runOnce())
        edgeCount += n
        enriched += n; requested += batch
        readProbe(t); n >= 0 && n <= batch
    }
  }

  var enriched = 0L
  var requested = 0L

  /** Traced runs only: the cost of reading the current edges through the
    * delta chain, forced to the noop sink. */
  private def readProbe(t: Tracer): Unit = if (t.enabled) t.span("tables.read_current") {
    KgQueries.mergedEdges(TableIO.readCurrent(spark, edgesDir))
      .write.format("noop").mode("overwrite").save()
  }
}

object Serve {
  val EvidenceDocs = 20000

  /** The snapshot tables of a built graph. */
  val Tables: Seq[String] = Seq("nodes", "edges", "triples_view")

  sealed trait Op { def write: Boolean = false }
  case object Search extends Op
  case object IdOf extends Op
  case object Statistics extends Op
  case object MostConnected extends Op
  case object Reachable extends Op
  case object AddEdge extends Op { override def write = true }
  case object EnrichTick extends Op { override def write = true }

  /** One operation of each kind. */
  val AllOps: Vector[Op] =
    Vector(Search, IdOf, Statistics, MostConnected, Reachable, AddEdge, EnrichTick)

  /** Block `b` of ten operations, nine reads and one write, in a seeded
    * order. Blocks 1, 4, 7, … write with an enrich tick, the others with a
    * delta commit, so two blocks already hold one write of each kind. */
  def block(b: Int, rng: java.util.Random): Vector[Op] = {
    val reads = Vector(Search, Search, IdOf, IdOf, Statistics, Statistics,
      MostConnected, MostConnected, Reachable)
    val ops = reads :+ (if (b % 3 == 1) EnrichTick else AddEdge)
    val a = ops.toArray[Op]
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x
    }
    a.toVector
  }
}
