package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What every workload needs: its arguments, the span recorder, and a
  * fresh work directory inside the checkout. Set-up is everything a run
  * does before `measure` starts, from JVM start on. */
final class Ctx(val seed: Long, val seconds: Double, val traced: Boolean, val work: Path,
                val rec: Recorder) {
  /** `System.nanoTime()` when the measured phase began. */
  var measureStartNs = 0L
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
  /** One set-up step as a span; a run whose set-up throws stops there. */
  def setup[A](name: String)(body: => A): A =
    rec.op(name, "setup")(body).getOrElse(throw new IllegalStateException(s"set-up $name failed"))
  /** Measured phase: call `step` at least once, then again while ending
    * after it would land nearer to `seconds` than stopping now does. */
  def measure(step: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    measureStartNs = t0
    val window = seconds * 1e9
    var i = 0
    var last = 0L
    while (i == 0 || System.nanoTime() - t0 + last / 2 < window) {
      val s0 = System.nanoTime()
      step(i)
      last = System.nanoTime() - s0
      i += 1
    }
  }
}

/** LimeQO's own loop over a seeded CEB-shaped matrix: censored ALS plus
  * selection each round, with the per-round trace and snapshot writes of
  * `ExperimentRunner`. Rounds are timed from outside through the
  * strategy's `alsFactory` seam: a round runs from one ALS call to the
  * next. No Spark job runs here. */
object LimeQoLoop {
  val rows = 3133; val cols = 49; val rounds = 40; val warmRounds = 8

  def run(c: Ctx): Map[String, Any] = {
    val (w, mask) = c.setup("inputs") {
      val (w, m) = Inputs.workloadMatrix(c.seed, rows, cols)
      // also computes the lazily derived totals
      require(w.optTime <= w.defaultTime, "the optimum is slower than the default plans")
      (w, m)
    }
    // a short episode of the loop itself, so that no measured round runs cold
    c.rec.op("warm", "warm")(episode(c, w, mask, "warm", warmRounds, "warm-op"))
    val episodes = ArrayBuffer.empty[Map[String, Any]]
    c.measure { i =>
      c.rec.op(s"episode-$i", "episode")(episode(c, w, mask, s"episode-$i", rounds, "round"))
        .foreach(episodes += _)
    }
    Map("rows" -> rows, "cols" -> cols, "rounds" -> rounds,
      "default_total" -> w.defaultTime, "episodes" -> episodes.toSeq)
  }

  private def episode(c: Ctx, w: graft.core.WorkloadMatrix, mask: Array[Array[Boolean]],
                      name: String, nRounds: Int, roundKind: String): Map[String, Any] = {
    val dir = c.dir(name)
    val trace = dir.resolve("trace.json")
    val snap = graft.strategy.RunSnapshot.pathFor(trace)
    val calls = ArrayBuffer.empty[Long]
    val als = ArrayBuffer.empty[Double]
    val persisted = ArrayBuffer.empty[Long]
    def persistedBytes(): Long = Seq(trace, snap).map(p =>
      if (Files.exists(p)) Files.size(p) else 0L).sum
    val factory: (Int, Int, Double, Long) => graft.linalg.MatrixCompletion =
      (r, it, l, s) => {
        calls += System.nanoTime()
        if (c.traced && calls.size > 1) {
          val t0 = System.nanoTime()
          persisted += persistedBytes()
          c.rec.overheadNs.addAndGet(System.nanoTime() - t0)
        }
        val inner = new graft.linalg.CensoredALS(r, it, l, s)
        new graft.linalg.MatrixCompletion {
          def complete(x: breeze.linalg.DenseMatrix[Double], m: breeze.linalg.DenseMatrix[Double],
                       cut: breeze.linalg.DenseMatrix[Double]) = {
            val t0 = System.nanoTime()
            try inner.complete(x, m, cut) finally als += (System.nanoTime() - t0) / 1e9
          }
        }
      }
    val strategy = new graft.strategy.LimeQOStrategy(seed = c.seed, maxRounds = nRounds,
      alsFactory = factory)
    val t0 = System.nanoTime()
    val results = strategy.run(w, Some(mask), Some(trace), Some(snap))
    val t1 = System.nanoTime()
    if (c.traced) persisted += persistedBytes()
    val bounds = (t0 +: calls.drop(1).toSeq) :+ t1
    for (r <- als.indices)
      c.rec.record(s"round-$r", roundKind, bounds(r), bounds(r + 1), Map("als_s" -> als(r)))
    val observed = graft.strategy.RunSnapshot.load(snap).map { s =>
      s.mask.map(_.count(identity)).sum.toDouble / (w.nRows * w.nCols)
    }.getOrElse(-1.0)
    // the deterministic part of the trace: everything but the two timings
    val det = results.map(m => Seq(m.execTime, m.totalLatency, m.p50, m.p90, m.p95, m.p99,
      m.exploreQueriesCnt).map(graft.core.Num.js).mkString(",")).mkString("\n")
    Map("seconds" -> (t1 - t0) / 1e9, "persist_bytes" -> persisted.toSeq, "observed_frac" -> observed,
      "trace_sha256" -> Digest.sha256(det), "rounds" -> results.size,
      "final_total_latency" -> results.last.totalLatency,
      "final_exec_time" -> results.last.execTime,
      "total_latency" -> results.map(_.totalLatency),
      "exec_time" -> results.map(_.execTime))
  }
}

/** The at-rest kNN graph's life cycle on a seeded clustered corpus: build
  * the layout and graph and run one warm fold cycle, then repeat fold
  * cycles (upsert arrivals and re-embeds, delete), reading the resolved edges
  * after every fold, and end with one compaction. The edges after the
  * first measured cycle are the instance's golden, and the compacted
  * graph must resolve to the same edges as before compaction. When the
  * final edges are not the golden (more than one measured cycle) or a
  * golden is being recorded (`confirm`), they must also equal a full
  * rebuild over the final corpus under the same frozen centroids. */
object GraphFold {
  val initial = 1000; val dim = 64; val clusters = 24
  val arrivals = 50; val reembeds = 50; val deletes = 12
  val k = 5; val nProbe = 2

  def run(c: Ctx, spark: SparkSession, confirm: Boolean): Map[String, Any] = {
    val (corpus, embPath, graphPath) = c.setup("inputs") {
      val corpus = new Inputs.Corpus(c.seed, dim, clusters)
      val emb = Inputs.embeddingFrame(spark, corpus.initial(initial)).localCheckpoint(true)
      val cents = graft.operators.SemanticDedup.refinedCentroids(emb,
        graft.operators.ProductQuantization.adaptiveNList(emb))
      val root = c.dir("graph")
      val embPath = root.resolve("index").toString
      val graphPath = root.resolve("graph").toString
      graft.operators.EmbeddingMaintenance.writeCellLayoutPersistent(emb, cents, embPath)
      graft.operators.GraphMaintenance.writeKnnGraph(spark, embPath, graphPath, k, nProbe)
      (corpus, embPath, graphPath)
    }
    import graft.operators.GraphMaintenance._
    def read(kind: String): Option[String] =
      c.rec.op("read", kind)(Fingerprint(edgesAtRest(spark, graphPath)))
    val roots = Seq(embPath, graphPath).map(java.nio.file.Paths.get(_))
    // a traced run also records what each fold leaves on disk
    def disk(): (Long, Long) =
      if (!c.traced) (0L, 0L)
      else {
        val t0 = System.nanoTime()
        try (roots.map(Disk.bytes).sum, roots.map(Disk.files).sum)
        finally c.rec.overheadNs.addAndGet(System.nanoTime() - t0)
      }
    def fold(name: String, step: String, kind: String)(body: => Unit): Unit = {
      val (b0, f0) = disk()
      c.rec.op(name, kind, {
        val (b1, f1) = disk()
        Map("step" -> step, "disk_bytes_added" -> (b1 - b0), "files_added" -> (f1 - f0))
      })(body)
    }
    /** One fold cycle; returns the edges' fingerprint after its last fold.
      * Arrivals and re-embeds fold as one upsert batch: each fold costs
      * about the same few dozen Spark jobs whatever its size. */
    def cycle(i: String, foldKind: String, readKind: String): Option[String] = {
      val b = corpus.batch(arrivals, reembeds, deletes)
      fold(s"upsert-$i", "upsert", foldKind)(upsertGraph(spark, embPath, graphPath,
        Inputs.embeddingFrame(spark, b.arrivals ++ b.reembeds)))
      read(readKind)
      fold(s"delete-$i", "delete", foldKind)(
        deleteFromGraph(spark, embPath, graphPath, b.deletes))
      read(readKind)
    }
    // the first fold in a JVM runs far slower than later ones
    c.rec.op("warm", "warm")(cycle("warm", "warm-op", "warm-op"))
    val cycleFps = ArrayBuffer.empty[Option[String]]
    c.measure(i => c.rec.op(s"cycle-$i", "cycle")(cycleFps += cycle(i.toString, "fold", "read")))
    c.rec.op("compact", "compact")(compactGraph(spark, embPath, graphPath))
    val graphBytes = Disk.bytes(java.nio.file.Paths.get(graphPath))
    val finalFp = c.rec.op("final-read", "check")(Fingerprint(edgesAtRest(spark, graphPath)))
    // the rebuild identity: a full build over the final corpus under the
    // same frozen centroids resolves to the same edges
    val rebuilt = confirm || cycleFps.size > 1
    val rebuildFp = if (!rebuilt) None else c.rec.op("rebuild", "check") {
      val root = c.dir("rebuild")
      val cents = graft.operators.EmbeddingMaintenance.loadQuantizer(spark, embPath).get._1
      val rebuiltEmb = root.resolve("index").toString
      val rebuiltGraph = root.resolve("graph").toString
      graft.operators.EmbeddingMaintenance.writeCellLayoutPersistent(
        Inputs.embeddingFrame(spark, corpus.live.toSeq), cents, rebuiltEmb)
      writeKnnGraph(spark, rebuiltEmb, rebuiltGraph, k, nProbe)
      Fingerprint(edgesAtRest(spark, rebuiltGraph))
    }
    Map("cycle_fingerprints" -> cycleFps.toSeq, "final_fingerprint" -> finalFp,
      "rebuilt" -> rebuilt, "rebuild_fingerprint" -> rebuildFp, "graph_bytes" -> graphBytes)
  }
}

/** Row count plus an order-independent hash of a result; doubles and
  * floats are rounded to 6 decimals first. */
object Fingerprint {
  def apply(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map(f => f.dataType match {
      case DoubleType | FloatType => round(col(f.name).cast(DoubleType), 6) + lit(0.0)
      case _ => col(f.name)
    })
    val r = df.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).collect().head
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }
}

object Digest {
  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
}

object Disk {
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
  def files(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).count() finally s.close()
    }
}
