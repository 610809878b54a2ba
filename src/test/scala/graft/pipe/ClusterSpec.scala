package graft.pipe

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, countDistinct, when}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/**
 * The hybrid connected components give the same `(node, cluster)` rows
 * whether the driver union-find takes over before the first round,
 * after a later round, or never, and none of the three touches the
 * session conf.
 */
class ClusterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** A 64-node chain, a star, a triangle plus its reverse edges,
    * isolated pairs, self loops and duplicate edges. */
  private val edgeList: Seq[(Long, Long)] =
    (1L until 64L).map(i => (i, i + 1)) ++
      (201L to 220L).map(i => (200L, i)) ++
      Seq((300L, 301L), (301L, 302L), (302L, 300L),
        (301L, 300L), (302L, 301L), (300L, 302L)) ++
      Seq((400L, 401L), (403L, 402L), (405L, 404L)) ++
      Seq((500L, 500L), (64L, 64L)) ++
      Seq((1L, 2L), (2L, 1L), (201L, 200L), (400L, 401L))

  private def edges: DataFrame = edgeList.toDF("src", "dst")

  /** Component minimum per node, by a plain graph walk. */
  private lazy val expected: Map[Long, Long] = {
    val adj = edgeList.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    adj.keys.map { start =>
      var seen = Set(start)
      var frontier = List(start)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(adj).filterNot(seen)
        seen ++= next
        frontier = next.distinct
      }
      start -> seen.min
    }.toMap
  }

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.as[(Long, Long)].collect().toSeq.sorted

  private val atRoundZero: (Int, Long) => Boolean = (_, _) => true
  private val never: (Int, Long) => Boolean = (_, _) => false

  test("driver switch at round 0, at a later round, and never give identical rows") {
    var switchedAt = -1
    val later: (Int, Long) => Boolean = (round, _) => {
      if (round >= 2 && switchedAt < 0) switchedAt = round
      round >= 2
    }
    val first = Cluster.components(edges, toDriver = atRoundZero)
    val mid = Cluster.components(edges, toDriver = later)
    val dist = Cluster.components(edges, toDriver = never)
    assert(first.onDriver && mid.onDriver && !dist.onDriver)
    assert(switchedAt == 2)
    val want = expected.toSeq.sorted
    assert(rows(first.labels) == want)
    assert(rows(mid.labels) == want)
    assert(rows(dist.labels) == want)
    // the default bound keeps this input on the driver
    assert(Cluster.components(edges).onDriver)
    assert(rows(Cluster.connectedComponents(edges)) == want)

    val ids = (expected.keys.toSeq :+ 999L :+ 500L).toDF("id")
    val assigned = Seq(first, mid, dist).map(cc => rows(Cluster.assignFrom(ids, cc)))
    assert(assigned.distinct.size == 1)
    val byId = assigned.head.toMap
    assert(byId(999L) == 999L && byId(500L) == 500L)
    assert(byId(64L) == 1L && byId(220L) == 200L && byId(302L) == 300L)
    assert(byId(405L) == 404L)
  }

  test("no branch touches the session conf; the round-0 switch caches nothing") {
    val before = spark.conf.getAll
    var seen = Seq.empty[Map[String, String]]
    def watching(go: Boolean): (Int, Long) => Boolean = (_, _) => {
      seen :+= spark.conf.getAll
      go
    }
    val ids = (1L to 70L).toDF("id")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    rows(Cluster.assignFrom(ids, Cluster.components(edges, toDriver = watching(true))))
    assert((spark.sparkContext.getPersistentRDDs.keySet -- persisted).isEmpty)
    rows(Cluster.assign(ids, edges))
    rows(Cluster.assignFrom(ids, Cluster.components(edges, toDriver = watching(false))))
    assert(seen.size > 2)
    assert(seen.forall(_ == before))
    assert(spark.conf.getAll == before)
  }

  test("a cluster is counted by its member whose id is its label, on both branches") {
    // 998 and 999 are isolated, 500 has only a self loop
    val ids = (expected.keys.toSeq ++ Seq(998L, 999L, 500L)).toDF("id")
    for (branch <- Seq(atRoundZero, never)) {
      val cc = Cluster.components(edges, toDriver = branch)
      val r = Cluster.assignFrom(ids, cc)
        .agg(count(when(col("id") === col("cluster"), 1)), countDistinct("cluster")).head()
      assert(r.getLong(0) == r.getLong(1), s"onDriver = ${cc.onDriver}")
      assert(r.getLong(0) == expected.values.toSet.size + 3)
    }
  }
}
