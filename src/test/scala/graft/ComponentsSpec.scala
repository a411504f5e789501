package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup

/** `Dedup.connectedComponents` against a plain-Scala union-find, in both
  * regimes (label propagation, and the star contraction a small
  * propagation budget forces), plus a pin on the SQL executions the
  * function itself starts before it returns. */
class ComponentsSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.test()

  /** (id, label, n_members) for every node of `pairs`: label = the least
    * id of the node's component, n_members = the component's size. */
  private def unionFind(pairs: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // the smaller root wins, so every root is its component's minimum
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val label = parent.keys.toSeq.map(x => x -> find(x)).toMap
    val size = label.values.groupBy(identity).map { case (l, ls) => l -> ls.size.toLong }
    label.map { case (x, l) => (x, l, size(l)) }.toSet
  }

  private def components(pairs: Seq[(Long, Long)], budget: Int): Set[(Long, Long, Long)] = {
    import spark.implicits._
    Dedup.connectedComponents(pairs.toDF("a", "b"), propagationBudget = budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  private def chain(n: Int, from: Long = 0L): Seq[(Long, Long)] =
    (0 until n - 1).map(i => (from + i, from + i + 1))

  /** Seeded random graph: `n` node ids spread over a wide range (so a
    * label is never an index), `m` random edges, a few self-pairs. */
  private def randomGraph(seed: Long, n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val ids = Seq.fill(n)(rnd.nextInt(1000000).toLong * 7 + 3).distinct
    val edges = Seq.fill(m)((ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size))))
    edges ++ ids.take(3).map(i => (i, i))
  }

  private val shapes: Seq[(String, Seq[(Long, Long)])] = Seq(
    "empty graph" -> Seq.empty,
    "isolated pair" -> Seq((5L, 9L)),
    "star" -> (1L to 12L).map(i => (100L, 100L + i)),
    "cycle" -> ((0L until 9L).map(i => (10L + i, 10L + (i + 1) % 9))),
    "chain longer than the budget" -> chain(40, from = 1000L),
    "reversed chain" -> chain(25).map { case (x, y) => (24L - x, 24L - y) },
    "self-pair only" -> Seq((77L, 77L)),
    "mixed" -> (chain(30, from = 500L) ++ Seq((900L, 901L), (901L, 902L),
      (902L, 900L), (1L, 2L))))

  test("connectedComponents equals union-find on fixed shapes, both regimes") {
    for ((name, pairs) <- shapes; budget <- Seq(3, 20, 100)) {
      assert(components(pairs, budget) === unionFind(pairs),
        s"$name at propagationBudget = $budget")
    }
  }

  test("connectedComponents equals union-find on seeded random graphs, both regimes") {
    for (seed <- 1L to 6L) {
      val rnd = new scala.util.Random(seed * 31)
      val n = 20 + rnd.nextInt(60)
      // sparse graphs: many components, long paths among them
      val pairs = randomGraph(seed, n, n * 2 / 3 + rnd.nextInt(n / 2))
      val want = unionFind(pairs)
      assert(components(pairs, 3) === want, s"seed $seed, star path")
      assert(components(pairs, 40) === want, s"seed $seed, propagation")
    }
  }

  /** The name of every SQL execution `body` starts on this session, in
    * order. A fence execution after `body` is awaited, and the listener
    * bus delivers in order, so every execution of `body` has been seen. */
  private def executions[T](body: => T): (T, Seq[String]) = {
    val seen = mutable.ArrayBuffer.empty[String]
    val fenced = new CountDownLatch(1)
    val fence = s"graft_fence_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val listener = new QueryExecutionListener {
      private def record(funcName: String, qe: QueryExecution): Unit =
        if (qe.analyzed.output.map(_.name) == Seq(fence)) fenced.countDown()
        else seen.synchronized(seen += funcName): Unit
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        record(funcName, qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        record(s"$funcName (failed)", qe)
    }
    spark.listenerManager.register(listener)
    try {
      val r = body
      spark.range(1).toDF(fence).collect()
      assert(fenced.await(60, TimeUnit.SECONDS), "the fence execution was never delivered")
      (r, seen.synchronized(seen.toList))
    } finally spark.listenerManager.unregister(listener)
  }

  test("each connectedComponents round is one eager localCheckpoint execution: no count, no head") {
    import spark.implicits._
    // a 6-node chain: round one (the seed) labels node i with i - 1, each
    // later round lowers it by one more, so rounds 2..5 change labels and
    // round 6 confirms the fixpoint — 5 checkpointed rounds
    val pairs = chain(6).toDF("a", "b")
    val (cc, execs) = executions(Dedup.connectedComponents(pairs))
    assert(execs === Seq.fill(5)("localCheckpoint"), execs)
    assert(cc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      (0L until 6L).map(_ -> 0L).toSet)

    // budget 3 forces the star contraction after rounds 2 and 3: one
    // checkpoint for the star seed, one per star round (this chain
    // contracts in 6 and the 7th leaves its edges unchanged), and one
    // exact isEmpty confirmation once the observed checksum stops moving
    val long = chain(40).toDF("a", "b")
    val (star, starExecs) = executions(Dedup.connectedComponents(long, propagationBudget = 3))
    assert(starExecs === Seq.fill(2 + 1 + 7)("localCheckpoint") :+ "isEmpty", starExecs)
    assert(star.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ===
      unionFind(chain(40)))
  }

  test("an empty edge set converges in one checkpointed round") {
    import spark.implicits._
    val empty: DataFrame = Seq.empty[(Long, Long)].toDF("a", "b")
    val (cc, execs) = executions(Dedup.connectedComponents(empty))
    assert(execs === Seq("localCheckpoint"), execs)
    assert(cc.isEmpty)
  }
}
