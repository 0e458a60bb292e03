package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.util.Random

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Graph
import graft.ext.Dedup

/** Graph kernel semantics on hand graphs with known solutions and on
  * random graphs against plain-Scala references — the oracle cross-check
  * proves engine==engine; these pin engine==MATH. */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("symmetric cycle converges to the uniform distribution") {
    // A -> B -> C -> A: by symmetry the stationary PageRank is exactly
    // 1/3 each, and uniform is the fixed point from the uniform init —
    // every iteration reproduces it, so 10 iterations are exact.
    val links = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val out = Graph.pagerank(links).collect()
    assert(out.length == 3)
    out.foreach { r =>
      // the report rounds at 6 dp, so 1/3 surfaces as 0.333333
      assert(math.abs(r.getAs[Double]("pagerank") - 1.0 / 3) < 1e-6,
        s"cycle node ${r.getString(0)} off uniform: $r")
      assert(r.getAs[Long]("in_links") == 1L && r.getAs[Long]("out_links") == 1L)
    }
  }

  test("star fixture: sources keep only teleport mass; the sink leaks (documented no-dangling-term)") {
    // A -> B, C -> B. A and C have no in-links: rank(A) = rank(C) =
    // 0.15/3 = 0.05 at the fixed point. B: 0.05 + 0.85*(rA + rC) = 0.135.
    // B is a SINK — its mass is not redistributed (Graph.pagerank
    // documents the leak), so the total is 0.235, not 1.0.
    val links = Seq(("a", "b"), ("c", "b")).toDF("src", "dst")
    val out = Graph.pagerank(links).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("pagerank")).toMap
    assert(math.abs(out("a") - 0.05) < 1e-6)
    assert(math.abs(out("c") - 0.05) < 1e-6)
    assert(math.abs(out("b") - 0.135) < 1e-4, s"sink rank: ${out("b")}")
  }

  test("out-degree weighting splits a node's vote across its links") {
    // A -> B twice, A -> C once: A's vote splits 2/3 vs 1/3. At the fixed
    // point with B, C sinks: rB = 0.15/3 + 0.85 * rA * 2/3, rA = 0.05.
    val links = Seq(("a", "b"), ("a", "b"), ("a", "c")).toDF("src", "dst")
    val out = Graph.pagerank(links).collect()
      .map(r => r.getString(0) -> r).toMap
    val rA = 0.15 / 3
    assert(math.abs(out("b").getAs[Double]("pagerank")
      - (0.05 + 0.85 * rA * 2 / 3)) < 1e-6)
    assert(math.abs(out("c").getAs[Double]("pagerank")
      - (0.05 + 0.85 * rA * 1 / 3)) < 1e-6)
    assert(out("a").getAs[Long]("out_links") == 3L)
    assert(out("b").getAs[Long]("in_links") == 2L)
  }

  test("connectedComponents: two planted components, min label wins, direction ignored") {
    // a-b-c connected (note c->b is AGAINST the chain direction — the
    // symmetrization must erase orientation); d-e separate.
    val links = Seq(("a", "b"), ("c", "b"), ("e", "d")).toDF("src", "dst")
    val out = Graph.connectedComponents(links).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out.keySet == Set("a", "b", "c", "d", "e"))
    Seq("a", "b", "c").foreach(h => assert(out(h) == ("a", 3L), s"$h: ${out(h)}"))
    Seq("d", "e").foreach(h => assert(out(h) == ("d", 2L), s"$h: ${out(h)}"))
  }

  test("connectedComponents: label crosses a chain longer than one round") {
    // a-b-c-d-e-f: the min label 'a' needs 5 propagation rounds to reach
    // f — inside the default 10, so the whole chain must collapse to 'a'.
    val links = Seq(("b", "a"), ("c", "b"), ("d", "c"), ("e", "d"), ("f", "e"))
      .toDF("src", "dst")
    val out = Graph.connectedComponents(links).collect()
    assert(out.length == 6)
    out.foreach(r => assert(r.getString(1) == "a" && r.getLong(2) == 6L,
      s"chain node not folded: $r"))
  }

  test("hits: symmetric complete bipartite graph is the exact fixed point") {
    // h1,h2 -> a1,a2 (all four edges): hubs split 1/2 each, authorities
    // 1/2 each, pure sources have authority 0 and pure sinks hub 0 —
    // uniform-by-symmetry is reproduced exactly every iteration.
    val links = Seq(("h1", "a1"), ("h1", "a2"), ("h2", "a1"), ("h2", "a2"))
      .toDF("src", "dst")
    val out = Graph.hits(links).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    Seq("h1", "h2").foreach { h =>
      assert(math.abs(out(h)._1 - 0.5) < 1e-6, s"$h hub: ${out(h)}")
      assert(out(h)._2 == 0.0, s"$h authority: ${out(h)}")
    }
    Seq("a1", "a2").foreach { a =>
      assert(out(a)._1 == 0.0, s"$a hub: ${out(a)}")
      assert(math.abs(out(a)._2 - 0.5) < 1e-6, s"$a authority: ${out(a)}")
    }
  }

  test("hits: mutual reinforcement ranks the better-endorsed authority and the broader hub") {
    // h1 -> a1, a2; h2 -> a1: a1 is endorsed by both hubs (higher
    // authority than a2); h1 points at more authority mass than h2
    // (higher hub). Roles never mix: sources hold 0 authority.
    val links = Seq(("h1", "a1"), ("h1", "a2"), ("h2", "a1"))
      .toDF("src", "dst")
    val out = Graph.hits(links).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out("a1")._2 > out("a2")._2 && out("a2")._2 > 0.0, s"$out")
    assert(out("h1")._1 > out("h2")._1 && out("h2")._1 > 0.0, s"$out")
    assert(out("h1")._2 == 0.0 && out("h2")._2 == 0.0)
    assert(out("a1")._1 == 0.0 && out("a2")._1 == 0.0)
    // L1 contract: each score family sums to 1
    assert(math.abs(out.values.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-9)
  }

  /** `iters` unconditional min-label rounds over the symmetrized non-self
    * links, in plain Scala: host -> (component, component size). */
  private def referenceComponents(links: Seq[(String, String)],
                                  iters: Int): Map[String, (String, Long)] = {
    val nbrs = links.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
    var lbl = nbrs.map { case (v, _) => v -> v }
    for (_ <- 1 to iters)
      lbl = lbl.map { case (v, l) => v -> (l +: nbrs(v).map(lbl)).min }
    val sizes = lbl.values.groupBy(identity).map { case (c, m) => c -> m.size.toLong }
    lbl.map { case (v, c) => v -> (c, sizes(c)) }
  }

  /** A path of 2-14 nodes (longer than small `iters`), two disjoint stars,
    * `src == dst` links (one on a node with no other link) and repeated
    * edges, over shuffled names so the minimum label sits anywhere, with
    * every link's direction flipped at random. */
  private val genLinks: Gen[Seq[(String, String)]] = for {
    path <- Gen.choose(2, 14)
    leaves <- Gen.listOfN(2, Gen.choose(1, 4))
    selfs <- Gen.choose(0, 3)
    dups <- Gen.choose(1, 3)
    seed <- Gen.long
  } yield {
    val rnd = new Random(seed)
    val n = path + leaves.map(_ + 1).sum
    val name = rnd.shuffle((0 to n).toVector).map(i => f"v$i%02d")
    val stars = leaves.scanLeft(path)(_ + _ + 1).zip(leaves)
      .flatMap { case (c, k) => (1 to k).map(j => (name(c), name(c + j))) }
    val edges = (1 until path).map(i => (name(i - 1), name(i))) ++ stars
    val loops = Seq.fill(selfs)(name(rnd.nextInt(n))) :+ name(n)
    val all = edges ++ loops.map(v => (v, v)) ++ Seq.fill(dups)(edges(rnd.nextInt(edges.size)))
    rnd.shuffle(all).map(e => if (rnd.nextBoolean()) e.swap else e)
  }

  private def components(df: org.apache.spark.sql.DataFrame): Map[String, (String, Long)] =
    df.collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap

  test("connectedComponents equals iters unconditional min-label rounds on random graphs") {
    // the loop stops at the first round that changes no label; that stop
    // must be invisible: chains longer than iters stay partly labeled
    val prop = Prop.forAllNoShrink(genLinks) { links =>
      val df = links.toDF("src", "dst")
      Prop.all(Seq(1, 2, 3, 10).map { iters =>
        Prop(components(Graph.connectedComponents(df, iters)) ==
          referenceComponents(links, iters)) :| s"iters=$iters links=$links"
      }: _*)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(8)
      .withWorkers(1).withInitialSeed(Seed(3L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("persist mode: connectedComponents and duplicateClusters match localCheckpoint and terminate") {
    // under persist Materialize runs no action, so the convergence count
    // needs one of its own: a blocking read would hang here
    val links = Seq(("b", "a"), ("c", "b"), ("d", "c"), ("e", "d"), ("x", "y"), ("y", "y"))
      .toDF("src", "dst")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("doc_a", "doc_b")
    def run() = Await.result(Future((
      components(Graph.connectedComponents(links, 3)),
      components(Graph.connectedComponents(links)),
      Dedup.duplicateClusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)),
      2.minutes)
    val viaCheckpoint = run()
    val viaPersist = SparkTestSession.underPersist(run())
    assert(viaPersist == viaCheckpoint)
    assert(viaCheckpoint._1("e") == ("b", 1L) && viaCheckpoint._2("e") == ("a", 5L))
    assert(viaCheckpoint._3 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L))
  }
}
