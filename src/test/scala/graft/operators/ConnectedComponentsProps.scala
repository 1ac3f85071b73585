package graft.operators

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.SparkTestSession

/** ScalaCheck laws for star-contraction connected components against a
  * driver-side union-find model: for ARBITRARY edge lists (including
  * self-loops, duplicates, both orientations, disconnected islands,
  * chains) it must return exactly the model's (node → component-minimum)
  * map and report convergence within its default round budget.
  */
object ConnectedComponentsProps extends Properties("ConnectedComponents") {
  private lazy val spark = SparkTestSession.spark

  // fewer cases than the scalacheck default: each case runs Spark jobs
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private val genEdges: Gen[List[(Long, Long)]] = for {
    nNodes <- Gen.choose(1, 40)
    nEdges <- Gen.choose(0, 70)
    es <- Gen.listOfN(nEdges, for {
      a <- Gen.choose(0L, nNodes.toLong - 1)
      b <- Gen.choose(0L, nNodes.toLong - 1)
    } yield (a, b))
  } yield es

  private def model(edges: List[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toList.map(x => x -> find(x)).toMap
  }

  property("star == union-find model; star converges") =
    Prop.forAll(genEdges) { edges =>
      val s = spark; import s.implicits._
      val pairs = edges.toDF("id_a", "id_b")
      val m = model(edges)
      val star = Dedup.connectedComponentsStarDetailed(pairs, "id_a", "id_b", "id")
      val starMap = star.components.as[(Long, Long)].collect().toMap
      // every node appearing in a pair is listed (self-loops included — a
      // self-loop still names its node), labeled by the min
      val expected =
        if (edges.isEmpty) Map.empty[Long, Long]
        else {
          val nodes = edges.flatMap(e => List(e._1, e._2)).toSet
          nodes.map(n => n -> m.getOrElse(n, n)).toMap
        }
      (Prop(star.converged) :| "star converged") &&
        (Prop.?=(starMap, expected) :| "star == model")
    }

  property("canonicalByScore == model argmax(score, -id) per component, all nodes") =
    Prop.forAll(genEdges) { edges =>
      val s = spark; import s.implicits._
      val m = model(edges)
      val nodes = (edges.flatMap(e => List(e._1, e._2)).toSet ++ (0L to 5L)).toList
      // deterministic pseudo-random scores with deliberate collisions
      val docs = nodes.map(n => (n, (n * 7 % 5).toInt)).toDF("doc_id", "score")
      val scores = nodes.map(n => n -> (n * 7 % 5).toInt).toMap
      val got = Dedup.canonicalByScore(docs, edges.toDF("id_a", "id_b"),
        "doc_id", "score").as[(Long, Long)].collect().toMap
      val comps = nodes.groupBy(n => m.getOrElse(n, n))
      val expected = nodes.map { n =>
        val members = comps(m.getOrElse(n, n))
        n -> members.minBy(x => (-scores(x), x))
      }.toMap
      Prop.?=(got, expected) :| "canonical == model winner"
    }
}
