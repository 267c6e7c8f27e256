package graft.fuzz

import org.apache.spark.sql.SparkSession
import scala.util.Random

/** One differential fuzz surface: a seeded generator of input sets, the
  * Spark-vs-reference-model check of one set, and a repro of a set that
  * failed. [[graft.Fuzz.sweep]] drives every surface through the same
  * loop: one `Random(seed)` per seed, and per set index `i` first `draw`
  * then `check` read from it in that order, so a seed always yields the
  * same sets. */
trait Surface {
  type In

  /** The name `graft.Fuzz <name> [n] [seeds]` selects. */
  def name: String

  /** Sets per seed of a full sweep. */
  def sets: Int

  /** Seeds of a full sweep. */
  def seeds: Seq[Long] = Seq(12L, 99L, 7L, 42L, 2026L)

  def draw(r: Random, seed: Long, i: Int): In

  /** Divergences of set `i`; the surface decides from `i` whether the
    * set also runs its deep (slower) checks. */
  def check(spark: SparkSession, in: In, i: Int, r: Random): Seq[String]

  /** A readable repro of a set on which `check` diverged, shrunk to a
    * smaller failing input where the surface can. */
  def repro(spark: SparkSession, in: In, i: Int): String

  /** Whether `run` still diverges; a crash counts as a divergence. */
  protected def fails(run: => Seq[String]): Boolean =
    try run.nonEmpty catch { case _: Throwable => true }

  /** ddmin `items` to a subset on which `run` still fails. */
  protected def shrink[A](items: Seq[A], maxEvals: Int = 120)(
      run: Seq[A] => Seq[String]): Seq[A] =
    Shrink.ddmin(items, (xs: Seq[A]) => fails(run(xs)), maxEvals)
}

object Surface {
  val all: Seq[Surface] = Seq(BpeFuzz, ChainFuzz, CorpusFuzz, GraphFuzz,
    MediaFuzz, SampleFuzz, SketchFuzz, StatFuzz, StreamFuzz, TemporalFuzz,
    VectorFuzz)
}
