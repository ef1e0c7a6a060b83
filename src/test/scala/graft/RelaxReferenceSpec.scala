package graft

import org.apache.spark.sql.{Column, DataFrame}
import graft.operators.Graph

/** The four min-relaxation operators — bfsHops, sssp, closeness and
  * eccentricity over pre-mined edges — against a driver-side
  * reference: a Scala Bellman–Ford fold (and a per-seed BFS fold) over
  * the edge list. Seeded random graphs carry dst-only nodes, user
  * self-loops, zero-weight and duplicate edges; round budgets sit on
  * both sides of five rounds. */
class RelaxReferenceSpec extends SparkFunSuite {
  import spark.implicits._

  private type Edge = (Long, Long, Long) // (src, dst, w)

  /** A seeded random graph on nodes 0 until 24 plus dst-only nodes
    * 100..103, with weights 0..9. */
  private def graph(seed: Long): Seq[Edge] = {
    val r = new scala.util.Random(seed)
    def node = r.nextInt(24).toLong
    def w = r.nextInt(10).toLong
    val random = Seq.fill(50)((node, node, w))
    val dstOnly = (100L to 103L).map(v => (node, v, w))
    val selfLoops = Seq.fill(3) { val v = node; (v, v, w) }
    val zero = Seq.fill(4)((node, node, 0L))
    val duplicates = random.take(5).map { case (u, v, _) => (u, v, w) } ++ random.take(3)
    random ++ dstOnly ++ selfLoops ++ zero ++ duplicates
  }

  private def nodes(edges: Seq[Edge]): Seq[Long] =
    edges.flatMap { case (u, v, _) => Seq(u, v) }.distinct.sorted

  /** Synchronous Bellman–Ford: `rounds` steps of
    * d(v) = min(d(v), min over u -> v of d(u) + w), from 0 at the seeds. */
  private def relaxRef(edges: Seq[Edge], seeds: Set[Long], rounds: Int): Seq[(Long, Option[Long])] = {
    val vs = nodes(edges)
    val d0 = vs.map(v => v -> (if (seeds(v)) Some(0L) else None)).toMap
    val d = (1 to rounds).foldLeft(d0) { (d, _) =>
      vs.map(v => v -> (d(v).toSeq ++ edges.collect {
        case (u, `v`, w) if d(u).isDefined => d(u).get + w
      }).minOption).toMap
    }
    vs.map(v => v -> d(v))
  }

  /** Per seed node: hop distances of everything within `rounds` hops. */
  private def bfsRef(edges: Seq[Edge], seeds: Set[Long], rounds: Int): Seq[(Long, Map[Long, Long])] =
    nodes(edges).filter(seeds).map { s =>
      s -> (1 to rounds).foldLeft(Map(s -> 0L)) { (d, _) =>
        edges.collect { case (u, v, _) if d.contains(u) => v -> (d(u) + 1) }
          .foldLeft(d) { case (acc, (v, x)) => acc.updated(v, acc.get(v).fold(x)(math.min(_, x))) }
      }
    }

  private def roundAt(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  private def closenessRef(edges: Seq[Edge], seeds: Set[Long], rounds: Int): Seq[Seq[Any]] =
    bfsRef(edges, seeds, rounds).flatMap { case (s, d) =>
      val far = (d - s).values.toSeq
      if (far.isEmpty) None
      else Some(Seq(s, far.size.toLong, far.sum, roundAt(far.size.toDouble / far.sum),
        roundAt(far.map(1000000000L / _).sum / 1e9)))
    }

  private def eccentricityRef(edges: Seq[Edge], seeds: Set[Long], rounds: Int): Seq[Seq[Any]] =
    bfsRef(edges, seeds, rounds).map { case (s, d) => Seq(s, d.size - 1L, d.values.max) }

  private def frame(edges: Seq[Edge]): DataFrame = edges.toDF("src", "dst", "w")

  private def dists(df: DataFrame): Seq[(Long, Option[Long])] =
    df.collect().toSeq.map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  // two random graphs with every seventh node a seed, and one seed
  // predicate that matches no node
  private val cases: Seq[(String, Seq[Edge], Set[Long])] = Seq(
    ("graph 1", graph(1), (0L until 24L by 7).toSet),
    ("graph 2", graph(2), (0L until 24L by 7).toSet),
    ("no seed", graph(3), Set.empty[Long]))

  private def pred(seeds: Set[Long]): Column => Column =
    c => if (seeds.isEmpty) c < 0L else c.isin(seeds.toSeq: _*)

  test("bfsHopsFromEdges and ssspFromEdges equal a driver-side Bellman–Ford fold") {
    for ((name, edges, seeds) <- cases; rounds <- Seq(1, 5, 6, 12, 20)) {
      val hops = edges.map { case (u, v, _) => (u, v, 1L) }
      assert(dists(Graph.bfsHopsFromEdges(frame(edges).drop("w"), pred(seeds), rounds)) ==
        relaxRef(hops, seeds, rounds), s"bfsHops $name r$rounds")
      assert(dists(Graph.ssspFromEdges(frame(edges), pred(seeds), rounds)) ==
        relaxRef(edges, seeds, rounds), s"sssp $name r$rounds")
    }
  }

  test("closenessFromEdges and eccentricityFromEdges equal a driver-side per-seed BFS fold") {
    for ((name, edges, seeds) <- cases; rounds <- Seq(1, 5, 6, 8)) {
      val e = frame(edges).drop("w")
      assert(rows(Graph.closenessFromEdges(e, pred(seeds), rounds)) ==
        closenessRef(edges, seeds, rounds), s"closeness $name r$rounds")
      assert(rows(Graph.eccentricityFromEdges(e, pred(seeds), rounds)) ==
        eccentricityRef(edges, seeds, rounds), s"eccentricity $name r$rounds")
    }
  }
}
