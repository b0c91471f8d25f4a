package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Batch LLM-data preparation: the six dedup and similarity calls of one
  * pass over the ×F amplified corpus, passes back to back. Each call ends
  * in one action that returns the output's row count, an order-independent
  * hash, and how many planted copies it found. */
final class CorpusDedup extends Workload {
  import CorpusDedup._

  private var docsDir, vecsDir = ""
  private var plantedDocIds, plantedNearIds, plantedVecIds: Seq[Long] = Nil
  private var exactPairs, nearPairs, vecPairs: Seq[Long] = Nil
  private var nDocs, nVecs = 0L

  private val passMs = mutable.ArrayBuffer.empty[Double]
  private val callMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val firstOut = mutable.HashMap.empty[String, (Long, Long, Long)]
  private var found, expected = 0L

  override def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val base = s"${ctx.work}/base"
    val planted = Inputs.corpus(spark, ctx.seed, base)
    val amp = s"${ctx.work}/amplified"
    // amplify also builds lineitem, orders and part; it skips any table
    // whose output is already complete, so mark the unused ones complete
    Seq("lineitem", "orders", "part").foreach { t =>
      java.nio.file.Files.createDirectories(java.nio.file.Path.of(s"$amp/$t.parquet"))
      java.nio.file.Files.createFile(java.nio.file.Path.of(s"$amp/$t.parquet/_SUCCESS"))
    }
    graft.ScaleBench.amplify(spark, base, amp, Factor)
    ctx.inputs("setup.inputs_s") = (System.nanoTime() - t0) / 1e9
    docsDir = s"$amp/documents.parquet"
    vecsDir = s"$amp/embeddings.parquet"

    // planted copies in the amplified id space: every copy k of the base
    // corpus carries its own planted pairs at id + k·IdStride
    def shift(m: Map[Long, Long]) = for (k <- 0 until Factor; (c, o) <- m.toSeq) yield
      (c + k * IdStride, o + k * IdStride)
    val ex = shift(planted.exactDocs); val nr = shift(planted.nearDocs); val vx = shift(planted.exactVecs)
    plantedDocIds = ex.map(_._1); plantedNearIds = nr.map(_._1); plantedVecIds = vx.map(_._1)
    exactPairs = ex.map { case (c, o) => pairCode(o, c) }
    nearPairs = nr.map { case (c, o) => pairCode(o, c) }
    vecPairs = vx.map { case (c, o) => pairCode(c, o) }

    val docs = spark.read.parquet(docsDir)
    val vecs = spark.read.parquet(vecsDir)
    nDocs = docs.count(); nVecs = vecs.count()
    val banded = docs.select(col("doc_id"),
      explode(Dedup.lshBandKeys(Dedup.minHashSignatureUdf(3, 64)(col("text")), 16, 4)).as("band_key"))
    // the sf0.1 corpus is small enough to broadcast every join side; a
    // large corpus never is, so plan them as shuffles, as at scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", BroadcastBytes)
    ctx.inputs ++= Seq("F" -> Factor, "docs" -> nDocs, "vectors" -> nVecs,
      "docs_bytes" -> Fs.bytes(docsDir), "vectors_bytes" -> Fs.bytes(vecsDir),
      "planted_docs" -> (plantedDocIds.size + plantedNearIds.size), "planted_vectors" -> plantedVecIds.size,
      "band_side_est_mb" -> banded.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble / 1048576.0,
      "docs_est_mb" -> docs.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble / 1048576.0,
      "broadcast_threshold" -> BroadcastBytes)
  }

  /** One untimed pass over the corpus itself: compiles every call's code
    * paths with the measured plans and lets the JIT settle on the measured
    * data, so the measured pass does not (a cold pass runs about a third
    * slower, by an amount that varies from run to run). */
  override def warmup(ctx: Ctx): Unit = pass(ctx, record = false, opId = 0)

  override def nominalS: Double = 12.0

  override def run(ctx: Ctx, units: Int): Unit =
    (1 to units).foreach { n =>
      val t0 = System.nanoTime()
      if (pass(ctx, record = true, opId = n)) passMs += (System.nanoTime() - t0) / 1e6
    }

  /** One pass; returns whether every call completed. */
  private def pass(ctx: Ctx, record: Boolean, opId: Long): Boolean = {
    val spark = ctx.spark
    def docs = spark.read.parquet(docsDir)
    def vecs = spark.read.parquet(vecsDir)
    var ok = true
    def call(fn: String, planted: Seq[Long], plantedCol: Column)(out: => DataFrame, hashCols: Column*): Unit = {
      val r = ctx.op(fn, "operators", opId) {
        val o = out
        o.agg(count(lit(1)), sum(xxhash64(hashCols: _*).bitwiseAND(0xffffffffL)),
          sum(when(plantedCol.isin(planted: _*), 1L).otherwise(0L))).head()
      }
      r match {
        case Some((row, ms)) if record =>
          callMs.getOrElseUpdate(fn, mutable.ArrayBuffer.empty) += ms
          val got = (row.getLong(0), Option(row.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L),
            Option(row.get(2)).map(_.asInstanceOf[Long]).getOrElse(0L))
          val first = firstOut.getOrElseUpdate(fn, got)
          ctx.check(fn, got == first, s"output (rows, hash, planted) $got differs from the first pass's $first")
          val want = plantedWant(fn, planted.size)
          ctx.check(fn, got._3 == want, s"found ${got._3} of $want planted")
          if (opId == 1) { found += got._3; expected += want }
        case Some(_) =>
        case None => ok = false
      }
    }
    val dropsExact = plantedDocIds
    val dropsNear = plantedDocIds ++ plantedNearIds
    // the survivors of a drop must contain none of the planted copies
    call("dropExactDuplicates", dropsExact, col("doc_id"))(
      Dedup.dropExactDuplicates(docs, "text", "doc_id"), col("doc_id"))
    call("dropNearDuplicates", dropsNear, col("doc_id"))(
      Dedup.dropNearDuplicates(docs, "text", "doc_id"), col("doc_id"))
    call("simHashCandidatePairs", exactPairs, pairCol("id_a", "id_b"))(
      Dedup.simHashCandidatePairs(docs, "text", "doc_id"), col("id_a"), col("id_b"))
    call("jaccardJoinExact", exactPairs ++ nearPairs, pairCol("id_a", "id_b"))(
      Dedup.jaccardJoinExact(docs, "text", "doc_id", minJaccard = 0.9), col("id_a"), col("id_b"))
    val centroids = ctx.op("fitIvfCentroids", "operators", opId) {
      Similarity.fitIvfCentroids(vecs, "embedding", Cells)
    }
    centroids match {
      case Some((c, ms)) =>
        if (record) callMs.getOrElseUpdate("fitIvfCentroids", mutable.ArrayBuffer.empty) += ms
        // the top-1 neighbour of every exact vector copy is its original
        call("knnJoinIvf", vecPairs, when(col("rank") === 1, pairCol("vec_id", "neighbor_id")))(
          Similarity.knnJoinIvf(vecs, "embedding", "vec_id", k = 5, centroids = c),
          col("vec_id"), col("rank"), col("neighbor_id"))
        call("semanticDedup", plantedVecIds, col("vec_id"))(
          Similarity.semanticDedup(vecs, "embedding", "vec_id", c, threshold = 0.95), col("vec_id"), col("cell"))
      case None => ok = false
    }
    ok
  }

  /** Planted hits each call must report: drops keep none, pair joins find all. */
  private def plantedWant(fn: String, n: Int): Long = fn match {
    case "dropExactDuplicates" | "dropNearDuplicates" | "semanticDedup" => 0L
    case _ => n.toLong
  }

  override def opMs: Seq[Double] = passMs.toSeq
  override def rowsMoved: Long = passMs.size * (nDocs + nVecs)
  override def busySeconds: Double = passMs.sum / 1e3

  override def detail(ctx: Ctx): Seq[Metric] =
    Seq(Metric("pass_s.p50", Stats.median(passMs.toSeq) / 1e3, "s"),
      Metric("passes", passMs.size.toDouble, "count"),
      Metric("docs", nDocs.toDouble, "rows"), Metric("vectors", nVecs.toDouble, "rows"))

  override def layers(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val docs = spark.read.parquet(docsDir)
    // counts from the public candidate-pair functions, with the thresholds
    // dropNearDuplicates uses internally (estimate at 0.8·0.8, confirm at 0.8)
    val cands = Dedup.minHashCandidatePairs(docs, "text", "doc_id", 3, 64, 16, 0.64, 64)
    val nCand = cands.count()
    val nConf = Dedup.verifyPairsExactJaccard(cands, docs, "text", "doc_id", 3)
      .where(col("jaccard") >= 0.8).count()
    val nSim = firstOut.get("simHashCandidatePairs").map(_._1).getOrElse(0L)
    val nJac = firstOut.get("jaccardJoinExact").map(_._1).getOrElse(0L)
    Map(
      "operators.minhash.candidate_pairs" -> nCand.toDouble,
      "operators.minhash.confirm_ratio" -> (if (nCand > 0) nConf.toDouble / nCand else 0.0),
      "operators.simhash.candidate_pairs" -> nSim.toDouble,
      "operators.jaccard.pairs_out" -> nJac.toDouble,
      "operators.planted_recall" -> (if (expected > 0) found.toDouble / expected else 0.0)) ++
      callMs.map { case (fn, xs) => s"operators.$fn.ms" -> Stats.median(xs.toSeq) }
  }
}

object CorpusDedup {
  /** Amplification factor. At ×8 the corpus is 40,800 documents; the band
    * frame (doc id + 16 band keys each) and the signature side of the
    * candidate re-attach joins both exceed the 10 MB broadcast threshold,
    * so the timed plans are the shuffle plans a large corpus takes. */
  val Factor = 1
  val Cells  = 16
  val BroadcastBytes = 64L * 1024
  /** ScaleBench.amplify's per-copy id shift. */
  val IdStride = 1000000L

  def pairCode(a: Long, b: Long): Long = a * 4000000000L + b
  def pairCol(a: String, b: String): Column = col(a) * lit(4000000000L) + col(b)
}
