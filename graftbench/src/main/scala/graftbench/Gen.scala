package graftbench

/** Seeded input generators. Pure functions of their arguments: the
  * same seed gives the same inputs, byte for byte. */
object Gen {

  def rng(seed: Long, stream: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L + stream)

  def shuffle[T](xs: Seq[T], r: java.util.SplittableRandom): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  /** The catalog slice: the `core` queries plus one of `light` that
    * the seed draws. The core keeps the run's cost and cache footprint
    * the same for every seed, so the seed varies the inputs without
    * moving the metrics beyond run noise. */
  def catalogSlice(core: Seq[String], light: Seq[String], seed: Long): Vector[String] =
    core.toVector :+ light(rng(seed, 1).nextInt(light.size))

  /** The order of pass `p`'s ops: a seeded permutation per pass. */
  def passOrder[T](xs: Seq[T], seed: Long, p: Int): Vector[T] =
    shuffle(xs, rng(seed, 100 + p))
}
