package vsbench

import java.util.Random

/** Seeded inputs of low intrinsic dimension: points of a 16-d Gaussian
  * mixture, projected to `dims` by a fixed random matrix, plus isotropic
  * noise. The mixture (cluster centres) comes from the run seed; the
  * projection is the same for every seed. Each consumer draws from its own
  * stream, so the corpus does not depend on how many queries a run makes.
  * Queries are fresh draws, never corpus members. */
final class Gen(seed: Long, val dims: Int = 64) {
  import Gen._

  private val proj: Array[Float] = {
    val r = new Random(ProjectionSeed)
    val s = 1.0 / math.sqrt(Latent.toDouble)
    Array.fill(Latent * dims)((r.nextGaussian() * s).toFloat)
  }
  private val centres: Array[Array[Double]] = {
    val r = new Random(seed)
    Array.fill(Clusters, Latent)(r.nextGaussian() * CentreSpread)
  }

  /** An independent stream of vectors; `stream` names the consumer. */
  def stream(stream: Int): Iterator[Array[Float]] = {
    val r = new Random(seed * 1000003L + stream)
    Iterator.continually(draw(r))
  }

  private def draw(r: Random): Array[Float] = {
    val c = centres(r.nextInt(Clusters))
    val z = Array.tabulate(Latent)(i => c(i) + r.nextGaussian())
    val out = new Array[Float](dims)
    var d = 0
    while (d < dims) {
      var s = 0.0; var i = 0
      while (i < Latent) { s += z(i) * proj(i * dims + d); i += 1 }
      out(d) = (s + r.nextGaussian() * Noise).toFloat
      d += 1
    }
    out
  }
}

object Gen {
  val Latent = 16
  val Clusters = 32
  val CentreSpread = 3.0
  val Noise = 0.05
  val ProjectionSeed = 0x5eedL

  // stream ids
  val CorpusStream = 1
  val QueryStream = 2
  val UpsertStream = 3
  val ChoiceStream = 4
  /** Stream-id offset between the JVMs of one run, so none repeats a query. */
  val JvmStride = 100
}

/** One write of the update workload: new ids, overwrites of live ids, and
  * deletes of other live ids. Every id is distinct within the batch (a
  * duplicate id at one timestamp has no defined winner), and new ids are
  * never ids that were used before, so a deleted id never comes back. */
final case class WriteBatch(newIds: Seq[Long], overwrites: Seq[Long], deletes: Seq[Long]) {
  def upsertIds: Seq[Long] = newIds ++ overwrites
}

object WriteBatch {
  /** Draws a batch from the live ids of `c`; new ids start at `firstNewId`. */
  def draw(c: Corpus, rng: Random, firstNewId: Long, nNew: Int, nOver: Int,
      nDel: Int): WriteBatch = {
    require(nOver + nDel <= c.size, s"only ${c.size} live ids for $nOver + $nDel")
    val picked = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (picked.size < nOver + nDel) picked += c.idAt(rng.nextInt(c.size))
    val live = picked.toSeq
    WriteBatch((0 until nNew).map(firstNewId + _), live.take(nOver), live.drop(nOver))
  }
}
