package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup

/** Connected components over near-dup pairs: transitive closure
  * semantics (chains group), isolated nodes keep singleton groups,
  * pointer doubling converges on long chains well inside the round
  * budget, and the distributed answer matches a driver-side union-find
  * on randomized graphs. Every case runs on both branches — the
  * distributed fixpoint (driver pair cap 0) and the driver union-find
  * (the default cap) — which must give identical frames.
  */
class ComponentsSpec extends SparkTestBase {
  import spark.implicits._

  /** `body` on the fixpoint branch and on the driver branch; asserts
    * both give the same answer and returns it. */
  private def onBothBranches[A](body: => A): A = {
    val fixpoint = Dedup.withDriverPairCap(0L)(body)
    val driver = Dedup.withDriverPairCap(Dedup.DriverPairCap)(body)
    assert(driver == fixpoint, "the driver branch disagrees with the fixpoint")
    driver
  }

  /** A frame as its column names and types plus its rows, sorted. */
  private def contents(df: org.apache.spark.sql.DataFrame) =
    (df.dtypes.toSeq, df.collect().map(_.toString).sorted.toSeq)

  private def cc(pairs: Seq[(Long, Long)], nodes: Seq[Long]) =
    onBothBranches(Dedup.connectedComponents(
      pairs.toDF("a", "b"), "a", "b", nodes.toDF("id"), "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)

  test("chains close transitively; isolated nodes stay singletons") {
    // a~b, b~c but never a~c — exactly the case one-pass representatives
    // trade away; components must still group all three
    val got = cc(Seq((1L, 2L), (2L, 3L), (10L, 11L)), Seq(1L, 2L, 3L, 10L, 11L, 99L))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      99L -> 99L))
  }

  test("cycles and duplicate/reversed pairs are harmless") {
    val got = cc(Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (1L, 2L)),
      Seq(1L, 2L, 3L))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("a 60-node chain converges (pointer doubling, not O(diameter))") {
    // plain neighbor propagation would need 60 rounds > maxIters=25;
    // label-of-label shortcutting closes it in O(log 60) ≈ 6
    val n = 60L
    val pairs = (0L until n - 1).map(i => (i, i + 1))
    val got = cc(pairs, 0L until n)
    assert(got.values.toSet === Set(0L))
  }

  test("reliable-checkpoint mode matches localCheckpoint labels") {
    // the 100 TB fault-tolerance path: same fixpoint, lineage truncated
    // into a (reliable) checkpoint dir instead of executor-local blocks
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val nodes = (1L to 8L).toDF("id")
    val reliable = onBothBranches(Dedup.connectedComponents(pairs, "a", "b",
        nodes, "id", checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val local = onBothBranches(Dedup.connectedComponents(pairs, "a", "b",
        nodes, "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(reliable === local)
    assert(reliable === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L,
      6L -> 5L, 4L -> 4L, 7L -> 7L, 8L -> 8L))
    // the reliable files actually landed (checkpoint() really engaged)
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, "no checkpoint files written — reliable mode inert")
  }

  test("matches a driver-side union-find on randomized graphs (seeded)") {
    val rnd = new scala.util.Random(7)
    (0 until 3).foreach { trial =>
      val n = 40
      val nodes = (0L until n.toLong)
      val pairs = Seq.fill(25)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // reference union-find
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = nodes.map(i => i ->
        nodes.filter(j => find(j.toInt) == find(i.toInt)).min).toMap
      assert(cc(pairs, nodes) === expected, s"trial $trial")
    }
  }

  /** Components of `pairs` over `nodes` (int ids, some null) as a frame's
    * contents, identical on both branches. */
  private def ccFrame(pairs: Seq[(Long, Long)], nodes: Seq[Option[Int]]) =
    onBothBranches(contents(Dedup.connectedComponents(
      pairs.toDF("a", "b"), "a", "b", nodes.toDF("id"), "id")))

  /** Adds what the operator must shrug off: every third pair again,
    * every fifth reversed, and pairs to ids outside the node set that
    * would bridge `bridge`'s two ends if they were kept. */
  private def noisy(pairs: Seq[(Long, Long)], bridge: (Long, Long)) =
    pairs ++ pairs.zipWithIndex.collect {
      case (p, i) if i % 3 == 0 => p
      case ((a, b), i) if i % 5 == 0 => (b, a)
    } ++ Seq((bridge._1, 100000L), (100000L, bridge._2), (100001L, 100002L))

  /** Expected frame rows: each id (once) with its component's min id,
    * and one (null, null) row for the null node id. */
  private def expected(components: Seq[Seq[Long]]): Seq[String] =
    (components.flatMap(c => c.map(i => s"[$i,${c.min}]")) :+ "[null,null]")
      .sorted

  private val columns = Seq("id" -> "LongType", "component_id" -> "LongType")

  test("path, star and random two-component graphs: identical frames on " +
    "both branches") {
    // a 500-node path, its pairs in scrambled order (ids run along the
    // path: min-label rounds on a path of scattered ids grow with its
    // length and would exhaust the fixpoint's round budget)
    val pathIds = 1000L until 1500L
    val path = pathIds.zip(pathIds.tail).sortBy { case (a, _) => (a * 7919L) % 1009L }
    // a star whose centre is not the minimum id, plus an isolated node
    val star = (0L until 200L).filter(_ != 100L).map(i => (100L, i))
    // two random components: a random spanning tree of each half, plus
    // random chords inside the half
    val rnd = new scala.util.Random(11)
    val halves = (0L until 300L).partition(_ % 2 == 0)
    val halfSeq = Seq(halves._1, halves._2)
    val random = halfSeq.flatMap { h =>
      h.indices.tail.map(i => (h(i), h(rnd.nextInt(i)))) ++
        Seq.fill(60)((h(rnd.nextInt(h.size)), h(rnd.nextInt(h.size))))
    }
    val graphs = Seq(
      ("path", noisy(path, (pathIds.head, 2000L)),
        Seq(pathIds, Seq(2000L))),
      ("star", noisy(star, (0L, 3000L)),
        Seq(0L until 200L, Seq(3000L), Seq(3001L))),
      ("random", noisy(random, (halves._1.head, halves._2.head)), halfSeq))
    graphs.foreach { case (name, pairs, components) =>
      val ids = components.flatten
      // duplicate node ids and a null id ride along in the node set
      val nodes = (ids ++ ids.take(25)).map(i => Some(i.toInt)) :+ None
      val (cols, rows) = ccFrame(pairs, nodes)
      assert(cols === columns, name)
      assert(rows === expected(components), name)
    }
  }

  test("the cap is inclusive: a cap of |p0| pairs finishes on the driver, " +
    "|p0| - 1 runs the fixpoint") {
    // maxIters = 0 fails the fixpoint before its first round and is
    // ignored by the driver branch, so it shows which branch ran
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 2L), (4L, 5L), (5L, 99L))
    val nodes = (1L to 6L).toDF("id")
    val p0 = 4L // the directed pairs kept: 99 is not a node
    def run(cap: Long, maxIters: Int) = Dedup.withDriverPairCap(cap) {
      contents(Dedup.connectedComponents(pairs.toDF("a", "b"), "a", "b",
        nodes, "id", maxIters = maxIters))
    }
    val driver = run(p0, maxIters = 0)
    val err = intercept[IllegalArgumentException](run(p0 - 1, maxIters = 0))
    assert(err.getMessage.contains("did not converge in 0 rounds"))
    assert(run(p0 - 1, maxIters = 25) === driver)
    assert(driver._2 === Seq("[1,1]", "[2,1]", "[3,1]", "[4,4]", "[5,4]",
      "[6,6]"))
  }
}
