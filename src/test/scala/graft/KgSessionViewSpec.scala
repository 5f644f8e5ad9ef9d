package graft

import graft.graph.{KgQueries, KgSession, Materialize}
import graft.run.{Enricher, Pipeline}
import graft.tables.TableIO
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** KgSession's serving view over hand-written node/edge snapshot tables:
  * every kind of commit is seen by the next read, frames stay pinned to the
  * chain they were read from, and an unchanged graph is not re-read. */
class KgSessionViewSpec extends SparkSuite {
  import spark.implicits._

  private val ProvType = "array<struct<doc_id:string,span_idx:int,media_ref:string>>"

  private def nodeRows(names: String*): DataFrame =
    names.zipWithIndex.map { case (n, i) => (i + 1L, n) }.toDF("node_id", "name")
      .withColumn("canonical_name", col("name"))

  private def edgeRows(keys: (Long, Long, String)*): DataFrame =
    keys.toDF("src_id", "dst_id", "pred")
      .withColumn("pred_norm", Materialize.normPred(col("pred")))
      .withColumn("strength", lit(1.0))
      .withColumn("n_obs", lit(1L))
      .withColumn("description", lit("fixture edge"))
      .withColumn("provenance", typedLit(Seq.empty[(String, Int, String)]).cast(ProvType))
      .withColumn("created_at", Materialize.CreatedAt)

  private val Names = Seq("Artificial Intelligence", "Machine Learning",
    "Data Mining", "Statistics", "Neural Networks", "Robotics")

  /** A work dir holding `nodes` and `edges` as one full snapshot each. */
  private def graph(nodes: DataFrame, edges: DataFrame): String = {
    val wd = tmpDir("kgview")
    val c = Pipeline.Conf(workDir = wd)
    TableIO.commitSnapshot(nodes, Pipeline.nodesDir(c), "nodes")
    TableIO.commitSnapshot(edges, Pipeline.edgesDir(c), "edges")
    wd
  }

  private def nodesDir(kg: KgSession) = Pipeline.nodesDir(Pipeline.Conf(workDir = kg.workDir))

  /** Statistics of the tables as stored, read past any session. */
  private def stored(kg: KgSession): (Long, Long) =
    (TableIO.readCurrent(spark, nodesDir(kg)).count(),
      KgQueries.mergedEdges(TableIO.readCurrent(spark, kg.edgesDir)).count())

  private def keys(df: DataFrame): Set[(Long, Long, String)] =
    df.select("src_id", "dst_id", "pred").as[(Long, Long, String)].collect().toSet

  test("reads see addEdge, a compacting commitDelta and full commits") {
    val kg = KgSession.open(spark,
      graph(nodeRows(Names.take(4): _*), edgeRows((1L, 2L, "Includes"), (2L, 3L, "Uses"))))
    assert(kg.statistics() == ((4L, 2L)))
    assert(kg.mostConnected(1).select("name").as[String].collect().toSeq ==
      Seq("Machine Learning"))

    kg.addEdge(4L, 1L, "Hand Made")
    assert(kg.statistics() == ((4L, 3L)))
    assert(keys(kg.edges).contains((4L, 1L, "Hand Made")))
    // the same key again MERGEs: count unchanged, n_obs bumped
    kg.addEdge(4L, 1L, "Hand Made")
    assert(kg.statistics() == ((4L, 3L)))
    assert(kg.edges.filter(col("src_id") === 4L).select("n_obs").as[Long].head() == 2L)

    // maxChain = 1: the chain is already longer, so this commit compacts
    TableIO.commitDelta(edgeRows((3L, 4L, "Feeds"), (4L, 1L, "Feeds")),
      kg.edgesDir, "edges", maxChain = 1)
    assert(TableIO.snapshotChain(kg.edgesDir,
      TableIO.currentSnapshotId(kg.edgesDir).get).length == 1)
    assert(kg.statistics() == ((4L, 5L)))
    assert(kg.degree().filter(col("name") === "Statistics")
      .select("degree").as[Long].head() == 3L)
    assert(kg.mostConnected(1).select("name").as[String].collect().toSeq ==
      Seq("Artificial Intelligence"))

    TableIO.commitSnapshot(nodeRows(Names: _*), nodesDir(kg), "nodes")
    assert(kg.statistics() == ((6L, 5L)))
    assert(kg.search("Robot") == Seq("Robotics"))
    assert(kg.idOf("Neural Networks").contains(5L))

    TableIO.commitSnapshot(edgeRows((5L, 6L, "Drives")), kg.edgesDir, "edges")
    assert(kg.statistics() == ((6L, 1L)))
    assert(keys(kg.edges) == Set((5L, 6L, "Drives")))
    assert(kg.statistics() == stored(kg))
  }

  test("a table replaced out of band by one with the same snapshot ids is detected") {
    val edges = edgeRows((1L, 2L, "Includes"))
    val kg = KgSession.open(spark, graph(nodeRows(Names.take(3): _*), edges))
    val other = graph(nodeRows("Quantum Computing", "Logic", "Ethics"), edges)
    assert(kg.search("Logic").isEmpty)
    assert(kg.statistics() == ((3L, 1L)))

    val dir = java.nio.file.Paths.get(nodesDir(kg))
    val src = java.nio.file.Paths.get(Pipeline.nodesDir(Pipeline.Conf(workDir = other)))
    assert(TableIO.currentSnapshotId(dir.toString) == TableIO.currentSnapshotId(src.toString))
    java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    java.nio.file.Files.walk(src).forEach(p =>
      java.nio.file.Files.copy(p, dir.resolve(src.relativize(p).toString)))

    assert(kg.search("Logic") == Seq("Logic"))
    assert(kg.idOf("Artificial Intelligence").isEmpty)
    assert(kg.statistics() == ((3L, 1L)))
  }

  test("a frame keeps its rows after a write, and after vacuum deletes its snapshot") {
    val kg = KgSession.open(spark,
      graph(nodeRows(Names.take(4): _*), edgeRows((1L, 2L, "Includes"), (2L, 3L, "Uses"))))
    val edges0 = kg.edges
    val nodes0 = kg.nodes
    val degree0 = kg.degree()
    val before = keys(edges0)
    val snap0 = TableIO.currentSnapshotId(kg.edgesDir).get

    kg.addEdge(4L, 1L, "Hand Made")
    assert(keys(kg.edges) == before + ((4L, 1L, "Hand Made")))
    assert(keys(edges0) == before)

    // compact, then collect everything but the new root
    TableIO.commitDelta(edgeRows((3L, 4L, "Feeds")), kg.edgesDir, "edges", maxChain = 1)
    TableIO.commitSnapshot(nodeRows(Names: _*), nodesDir(kg), "nodes")
    assert(TableIO.vacuum(kg.edgesDir, retainLast = 1).contains(snap0))
    assert(TableIO.vacuum(nodesDir(kg), retainLast = 1).nonEmpty)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(kg.edgesDir, f"snap-$snap0%05d")))

    assert(keys(edges0) == before)
    assert(edges0.count() == 2L)
    assert(nodes0.count() == 4L)
    assert(degree0.select("degree").as[Long].collect().sum == 4L)
    assert(kg.statistics() == ((6L, 4L)))
  }

  test("concurrent Enricher.runOnce and statistics() agree with the final table") {
    val kg = KgSession.open(spark,
      graph(nodeRows(Names: _*), edgeRows((1L, 2L, "Includes"), (2L, 3L, "Uses"))))
    // one document mentions every node: every non-adjacent pair co-occurs
    val mentions = Names.map(n => ("d1", n)).toDF("doc_id", "canonical")
    val enricher = new Enricher(kg, mentions,
      Enricher.Conf(minDocs = 1, batch = 2, maxRelationships = Long.MaxValue))
    val (n0, e0) = kg.statistics()

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reader = new Thread(() =>
      try while (!done.get()) seen.add(kg.statistics())
      catch { case t: Throwable => failure.set(t) })
    reader.start()
    val added =
      try (1 to 4).map(_ => enricher.runOnce()).sum
      finally { done.set(true); reader.join(60000) }
    Option(failure.get()).foreach(t => throw t)

    assert(added == 8L)
    val (n1, e1) = kg.statistics()
    assert((n1, e1) == stored(kg))
    assert((n1, e1) == ((n0, e0 + added)))
    // every answer the reader got is a committed state, in commit order
    val counts = seen.toArray(Array.empty[(Long, Long)]).toSeq
    assert(counts.forall { case (n, e) => n == n0 && e >= e0 && e <= e1 }, counts)
    assert(counts.map(_._2) == counts.map(_._2).sorted, counts)
  }

  test("an unchanged graph is served without re-reading it") {
    val kg = KgSession.open(spark,
      graph(nodeRows(Names: _*), edgeRows((1L, 2L, "Includes"), (2L, 3L, "Uses"))))
    val group = s"kgview-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    def jobsOf(body: => Any): Int = {
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      val before = jobs.get()
      body
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      jobs.get() - before
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "KgSessionViewSpec")
    try {
      assert(jobsOf(kg.statistics()) > 0) // builds the view
      assert(jobsOf(assert(kg.statistics() == ((6L, 2L)))) == 0)
      assert(jobsOf(assert(kg.search("Data") == Seq("Data Mining"))) <= 1)
      assert(jobsOf(assert(kg.search("Learn") == Seq("Machine Learning"))) <= 1)
      assert(jobsOf(assert(kg.idOf("Statistics").contains(4L))) <= 1)
      assert(jobsOf(assert(kg.idOf("Robotics").contains(6L))) <= 1)
      // a write moves the fingerprint: the next read rebuilds
      kg.addEdge(6L, 1L, "Hand Made")
      assert(jobsOf(assert(kg.statistics() == ((6L, 3L)))) > 0)
      assert(jobsOf(assert(kg.statistics() == ((6L, 3L)))) == 0)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
