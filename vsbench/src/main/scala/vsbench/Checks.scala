package vsbench

/** One result row of a k-NN answer. */
final case class Hit(rank: Int, id: Long, dist: Float)

/** Output checks. Each returns None when the result passes and a one-line
  * reason when it does not; the caller counts a violation as a failed
  * operation. */
object Checks {
  /** Relative distance tolerance between the engine's float distances and
    * the benchmark's double-accumulated ones. */
  val RelTol = 1e-5

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= RelTol * math.max(math.abs(b), 1e-9)

  /** k rows, ranks 1..k in order, finite distances ascending. */
  def wellFormed(h: Seq[Hit], k: Int): Option[String] =
    if (h.length != k) Some(s"${h.length} rows, expected $k")
    else if (h.map(_.rank) != (1 to k)) Some(s"ranks ${h.map(_.rank).mkString(",")} are not 1..$k")
    else if (h.exists(x => x.dist.isNaN || x.dist.isInfinite)) Some("non-finite distance")
    else h.sliding(2).collectFirst {
      case Seq(a, b) if b.dist < a.dist => s"distance falls from rank ${a.rank} to ${b.rank}"
    }

  /** Exact results: each rank's distance equals the ground truth's, and each
    * returned id really lies at its reported distance. */
  def matchesExact(h: Seq[Hit], truth: Seq[(Long, Double)],
      trueDistance: Long => Option[Double]): Option[String] =
    if (h.length != truth.length) Some(s"${h.length} rows, ground truth has ${truth.length}")
    else h.zip(truth).collectFirst {
      case (x, (_, d)) if !close(x.dist, d) =>
        s"rank ${x.rank}: distance ${x.dist}, exact ${d}"
    }.orElse(h.collectFirst(Function.unlift { x =>
      trueDistance(x.id) match {
        case None => Some(s"id ${x.id} is not in the corpus")
        case Some(d) if !close(x.dist, d) => Some(s"id ${x.id} reported at ${x.dist}, lies at $d")
        case _ => None
      }
    }))

  /** Two answers to the same query agree: the same distances rank by rank,
    * and the same ids up to reordering among tied distances. */
  def sameResults(a: Seq[Hit], b: Seq[Hit]): Option[String] =
    if (a.length != b.length) Some(s"${a.length} rows vs ${b.length}")
    else a.zip(b).collectFirst {
      case (x, y) if !close(x.dist, y.dist) => s"rank ${x.rank}: distance ${x.dist} vs ${y.dist}"
    }.orElse(a.collectFirst {
      case x if !b.exists(y => y.id == x.id && close(x.dist, y.dist)) &&
          !close(x.dist, b.last.dist) => s"id ${x.id} at rank ${x.rank} missing from the other answer"
    })

  /** No deleted id is returned. */
  def noneDeleted(h: Seq[Hit], deleted: Long => Boolean): Option[String] =
    h.collectFirst { case x if deleted(x.id) => s"deleted id ${x.id} returned at rank ${x.rank}" }

  /** A stored vector, queried with itself, returns its own id at rank 1. */
  def selfFirst(h: Seq[Hit], id: Long): Option[String] =
    h.headOption match {
      case Some(x) if x.id == id => None
      case other => Some(s"self-query of id $id returned ${other.map(_.id)} at rank 1")
    }

  /** The ids an index holds are exactly the expected live set. */
  def sameIds(seen: Seq[Long], expected: Set[Long]): Option[String] = {
    val s = seen.toSet
    if (s.size != seen.length) Some(s"${seen.length - s.size} duplicate ids")
    else if (s != expected) {
      val missing = expected -- s; val extra = s -- expected
      Some(s"${missing.size} live ids missing (e.g. ${missing.take(3).mkString(",")}), " +
        s"${extra.size} unexpected (e.g. ${extra.take(3).mkString(",")})")
    } else None
  }

  /** Share of the true top-k ids found. */
  def recall(h: Seq[Hit], truth: Seq[(Long, Double)]): Double = {
    val t = truth.map(_._1).toSet
    h.count(x => t(x.id)).toDouble / truth.length
  }
}
