package graft.graph

import graft.run.Pipeline
import graft.tables.TableIO
import graft.tables.TableIO.ChainFingerprint
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** The single user-facing handle over a materialized knowledge graph — what
  * a kay-gee-go user gets from the frontend API + ops scripts, as a library:
  * build, query, mutate (snapshot-append), enrich, export, time-travel.
  *
  * All mutations go through snapshot commits: readers never observe a
  * partial write, and every prior state stays addressable.
  *
  * Serving reads: every read is answered from one materialized VIEW of the
  * graph — the nodes table and the MERGEd edges ([[edges]]), each
  * `localCheckpoint`ed (held `MEMORY_AND_DISK` in the block manager), plus
  * lazily memoized derived results ([[degree]], [[statistics]]). The view is
  * keyed by the [[TableIO.chainFingerprint]] of both tables' CURRENT chains
  * (snapshot id + the chain's parquet file names), which every read checks
  * with a driver-side listing: a commit by any writer — [[addEdge]], an
  * [[graft.run.Enricher]] tick, a compaction, a full commit, or a directory
  * replaced out of band — changes the fingerprint, and the next read
  * rebuilds the view; an unchanged graph is never re-read or re-merged.
  * There is ONE view per session, no history: it is replaced whole under a
  * lock, so reader threads and an enricher ticker sharing the session
  * always see one consistent (nodes, edges) pair. A frame a read returns is
  * pinned to the chains current when it was obtained — it keeps returning
  * those rows after later writes, and, being checkpointed, after a
  * [[TableIO.vacuum]] has deleted its snapshots. Superseded views are freed
  * by Spark's context cleaner once no frame references them. */
final class KgSession(val spark: SparkSession, val workDir: String) {
  import KgSession.{Side, View, pin}

  private def conf = Pipeline.Conf(workDir = workDir)

  /** Edges table directory (snapshot commits, e.g. the enricher's). */
  def edgesDir: String = Pipeline.edgesDir(conf)

  private val viewLock = new Object
  private var current: View = _ // guarded by viewLock

  /** The view of the tables' CURRENT chains: the held one while both
    * fingerprints match it, else a new one that keeps the side whose chain
    * did not move. */
  private def view: View = viewLock.synchronized {
    def side(dir: String, old: Option[Side], merge: DataFrame => DataFrame): Side = {
      val fp = TableIO.chainFingerprint(dir)
      old.filter(_.fp == fp).getOrElse {
        val chain = TableIO.readSnapshot(spark, dir, fp.snapshot)
        new Side(fp, pin(merge(chain)), chain.schema)
      }
    }
    val old = Option(current)
    val nodes = side(Pipeline.nodesDir(conf), old.map(_.nodes), identity)
    val edges = side(edgesDir, old.map(_.edges), KgQueries.mergedEdges)
    if (!old.exists(v => (v.nodes eq nodes) && (v.edges eq edges)))
      current = new View(nodes, edges)
    current
  }

  def nodes: DataFrame = view.nodes.frame

  /** Current edges through the read-side MERGE view: a delta chain may hold
    * several rows for one (src,dst,pred) key (repeated [[addEdge]]), and
    * compaction unions the chain verbatim — the MERGE is applied here, at
    * read time, once per chain (see the class scaladoc). Identity on an
    * already-merged table. */
  def edges: DataFrame = view.edges.frame

  def triples: DataFrame = TableIO.readCurrent(spark, Pipeline.triplesDir(conf))

  // ------------------------------------------------------------ query side
  def statistics(): (Long, Long) = view.statistics
  def search(q: String, limit: Int = 10): Seq[String] =
    KgQueries.search(nodes, q, limit).collect().map(_.getString(0)).toSeq
  def conceptNames(): DataFrame = KgQueries.conceptNames(nodes)
  def degree(): DataFrame = view.degree
  def mostConnected(k: Int = 5): DataFrame = KgQueries.mostConnectedOf(view.degree, k)
  def graphSnapshot(): (DataFrame, DataFrame) = {
    val v = view
    KgQueries.graphSnapshot(v.nodes.frame, v.edges.frame)
  }
  def reachableFrom(seed: String, maxHops: Int, maxNodes: Int = Int.MaxValue): DataFrame = {
    val v = view
    KgQueries.reachableFrom(v.nodes.frame, v.edges.frame, seed, maxHops, maxNodes)
  }

  // --------------------------------------------------------- mutation side
  /** S13 manual edge creation: an O(1)-row DELTA commit (never a table
    * rewrite); MERGE semantics surface through the [[edges]] read view. The
    * row's provenance type comes from the view's stored-chain schema, so
    * the add reads the chain only inside `commitDelta`'s schema check. */
  def addEdge(srcId: Long, dstId: Long, pred: String): Unit =
    KgQueries.addEdgeDelta(spark, edgesDir, srcId, dstId, pred,
      view.edges.chainSchema("provenance").dataType)

  /** Node id lookup by exact name (the frontend's id-addressed API needs it). */
  def idOf(name: String): Option[Long] =
    nodes.filter(col("name") === name).select("node_id")
      .collect().headOption.map(_.getLong(0))

  // ----------------------------------------------------------- time travel
  def edgeSnapshots(): Seq[Int] = TableIO.listSnapshots(edgesDir)
  def edgesAt(snapshot: Int): DataFrame =
    TableIO.readSnapshot(spark, edgesDir, snapshot)
}

object KgSession {
  /** One table at one chain fingerprint: `frame` is the checkpointed
    * (for edges: MERGEd) chain, `chainSchema` the stored chain's schema. */
  private final class Side(val fp: ChainFingerprint, val frame: DataFrame,
      val chainSchema: StructType) {
    lazy val count: Long = frame.count()
  }

  /** One immutable, checkpointed state of the graph (see [[KgSession]]). */
  private final class View(val nodes: Side, val edges: Side) {
    lazy val degree: DataFrame = pin(KgQueries.degree(nodes.frame, edges.frame))
    def statistics: (Long, Long) = (nodes.count, edges.count)
  }

  /** Materialize `df` once, detached from its source files. */
  private def pin(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK)

  /** Build (or resume) the graph from the configured corpus, then open. */
  def build(spark: SparkSession, c: Pipeline.Conf): KgSession = {
    Pipeline.run(spark, c)
    new KgSession(spark, c.workDir)
  }

  /** Open an already-materialized graph. */
  def open(spark: SparkSession, workDir: String): KgSession =
    new KgSession(spark, workDir)
}
