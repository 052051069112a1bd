package perfbench

/**
 * Seeded input generator. Every input a workload feeds the program — table
 * rows, query vectors, filter labels, appended rows, deleted ids — comes from
 * here, from the workload seed alone.
 *
 * Vectors are 128-d, projected from a 64-d latent mixture of 64 Gaussian
 * clusters with per-cluster, per-axis spreads, plus small isotropic noise.
 * The low intrinsic dimension and the anisotropy are what real embeddings
 * have and what SBQ codes need; isotropic 128-d clusters would put recall
 * far below anything a user would run at the default search parameters.
 * Labels: 1 or 2 per row from 1..32 with a geometric skew, so a one-label
 * filter selects between about 3% and 15% of the rows.
 */
final class Gen(seed: Long) {
  import Gen._

  private val model = new java.util.Random(seed ^ 0x5DEECE66DL)
  private val proj: Array[Array[Double]] =
    Array.fill(Dim, Latent)(model.nextGaussian() / math.sqrt(Latent))
  private val centers: Array[Array[Double]] =
    Array.fill(Clusters, Latent)(model.nextGaussian() * 1.5)
  private val spreads: Array[Array[Double]] =
    Array.fill(Clusters, Latent)(0.15 + 0.85 * model.nextDouble())

  /** One vector from the mixture, drawn from `rnd`. */
  def vector(rnd: java.util.Random): Array[Float] = {
    val c = rnd.nextInt(Clusters)
    val z = new Array[Double](Latent)
    var j = 0
    while (j < Latent) { z(j) = centers(c)(j) + spreads(c)(j) * rnd.nextGaussian(); j += 1 }
    val out = new Array[Float](Dim)
    var i = 0
    while (i < Dim) {
      var acc = 0.0
      j = 0
      while (j < Latent) { acc += proj(i)(j) * z(j); j += 1 }
      out(i) = (acc + Noise * rnd.nextGaussian()).toFloat
      i += 1
    }
    out
  }

  private def label(rnd: java.util.Random): Short = {
    var l = 1
    while (l < MaxLabel && rnd.nextDouble() >= LabelP) l += 1
    l.toShort
  }

  /** Labels of one row: sorted, distinct, 1 or 2 of them. */
  def labels(rnd: java.util.Random): Array[Short] = {
    val a = label(rnd)
    if (rnd.nextBoolean()) Array(a)
    else {
      val b = label(rnd)
      if (a == b) Array(a) else Array(a.min(b), a.max(b))
    }
  }

  /** `n` rows with ids `firstId until firstId + n`, from stream `stream`. */
  def rows(stream: Long, firstId: Long, n: Int): Array[Row] = {
    val rnd = new java.util.Random(mix(seed, stream))
    Array.tabulate(n)(i => Row(firstId + i, vector(rnd), labels(rnd)))
  }

  /** `n` query vectors from stream `stream` (never rows of the table). */
  def queries(stream: Long, n: Int): Array[Array[Float]] = {
    val rnd = new java.util.Random(mix(seed, stream))
    Array.fill(n)(vector(rnd))
  }

  /** A deterministic stream for choices the benchmark makes (filter labels,
    * deleted ids, query order). */
  def choices(stream: Long): java.util.Random = new java.util.Random(mix(seed, stream))
}

object Gen {
  val Dim = 128
  val Latent = 64
  val Clusters = 64
  val Noise = 0.05
  val MaxLabel = 32
  val LabelP = 0.1

  final case class Row(id: Long, vec: Array[Float], labels: Array[Short])

  def mix(seed: Long, stream: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** SHA-256 over the bytes of rows and queries: equal digests mean
    * byte-identical inputs. */
  def digest(rows: Array[Row], queries: Array[Array[Float]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8 + 4 * Dim + 2 * 2 + 4)
    def floats(v: Array[Float]): Unit = v.foreach(buf.putFloat)
    rows.foreach { r =>
      buf.clear(); buf.putLong(r.id); floats(r.vec); r.labels.foreach(buf.putShort)
      buf.putInt(r.labels.length); md.update(buf.array(), 0, buf.position())
    }
    queries.foreach { q =>
      buf.clear(); floats(q); md.update(buf.array(), 0, buf.position())
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
