package perfbench

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The program under test sees only what these
  * produce; the same seed always gives the same inputs. */
object Inputs {

  private def unit(v: Array[Double]): Array[Float] = {
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }

  // ------------------------------------------------------- workload matrix

  /** A CEB-shaped workload matrix: runtimes expm1(A·Bᵀ) with A (n×5) and
    * B (m×5) uniform, a ×100 heavy tail on 1 % of the cells, and about
    * half the rows carrying duplicated columns so hint groups exist. Like
    * the paper's matrices it is one fixed instance; the seed draws the
    * initial mask: column 0 plus random cells up to `maskFrac` of the
    * matrix. */
  val matrixSeed = 42L

  def workloadMatrix(seed: Long, n: Int, m: Int, maskFrac: Double = 0.062)
      : (graft.core.WorkloadMatrix, Array[Array[Boolean]]) = {
    val rnd = new Random(matrixSeed)
    val a = Array.fill(n, 5)(rnd.nextDouble())
    val b = Array.fill(m, 5)(rnd.nextDouble())
    val v = Array.tabulate(n, m) { (i, j) =>
      math.expm1((0 until 5).map(k => a(i)(k) * b(j)(k)).sum)
    }
    for (i <- 0 until n; j <- 0 until m if rnd.nextDouble() < 0.01) v(i)(j) *= 100.0
    for (i <- 0 until n if rnd.nextDouble() < 0.5) {
      val src = rnd.nextInt(m)
      val dst = rnd.nextInt(m)
      if (dst != src) v(i)(dst) = v(i)(src)
    }
    val maskRnd = new Random(seed)
    val p = (maskFrac * m - 1) / (m - 1)
    val mask = Array.tabulate(n, m)((_, j) => j == 0 || maskRnd.nextDouble() < p)
    val ids = Array.tabulate(n)(i => f"q$i%05d")
    (new graft.core.WorkloadMatrix(ids, v), mask)
  }

  // ----------------------------------------------------- embedding corpus

  /** A clustered corpus of unit vectors and a fold schedule over it: each
    * batch brings `arrivals` new ids, re-embeds `reembeds` live ids and
    * deletes `deletes` live ids. The initial corpus is one fixed instance;
    * the seed draws the schedule (which ids change, and the new vectors). */
  final case class Batch(arrivals: Seq[(Long, Array[Float])],
                         reembeds: Seq[(Long, Array[Float])], deletes: Seq[Long])

  val corpusSeed = 42L

  final class Corpus(seed: Long, val dim: Int, clusters: Int) {
    private val base = new Random(corpusSeed)
    private val centers = Array.fill(clusters, dim)(base.nextGaussian())
    private val rnd = new Random(seed)
    private def vector(r: Random): Array[Float] =
      unit(centers(r.nextInt(clusters)).map(_ + 0.6 * r.nextGaussian()))

    private var nextId = 0L
    /** id → current vector, in insertion order. */
    val live = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Float]]

    def initial(n: Int): Seq[(Long, Array[Float])] =
      (0 until n).map { _ => val id = nextId; nextId += 1; val v = vector(base); live(id) = v; id -> v }

    def batch(arrivals: Int, reembeds: Int, deletes: Int): Batch = {
      val ids = live.keysIterator.toArray
      val picked = rnd.shuffle(ids.toSeq).take(reembeds + deletes)
      val re = picked.take(reembeds).map(id => id -> vector(rnd))
      val del = picked.drop(reembeds)
      val arr = (0 until arrivals).map { _ => val id = nextId; nextId += 1; id -> vector(rnd) }
      re.foreach { case (id, v) => live(id) = v }
      del.foreach(live.remove)
      arr.foreach { case (id, v) => live(id) = v }
      Batch(arr, re, del)
    }
  }

  def embeddingFrame(spark: SparkSession, rows: Seq[(Long, Array[Float])]) = {
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
      StructField("label", IntegerType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, v) => Row(id, v.toSeq, (id % 10).toInt) }, 4), schema)
  }
}
