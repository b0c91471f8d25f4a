package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Partitioner
import org.apache.spark.sql.DataFrame

import graft.image.{ImagePipeline, Kernels, LinearScoringModel, Perceptual}
import graft.streaming.StreamingInference

/** The paper's own pipeline: ingest a JPEG corpus, split the ingested rows
  * into source files, then drain them one file per trigger
  * through the model-as-UDF inference stream and the perceptual-hash dedup
  * stream. The whole backlog is present when each stream starts. */
final class ImageStream extends Workload {
  import ImageStream._

  private var corpus = ""
  private var exactCopies: Seq[String] = Nil
  private var nImages = 0
  private var corpusBytes = 0L
  private val model = new LinearScoringModel(Inputs.Classes)
  private var reference: Map[Seq[Any], Int] = null
  private var firstDedup: Option[(Long, Long)] = None

  private val ingestMs = mutable.ArrayBuffer.empty[Double]
  private val triggerMs = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val phases = mutable.HashMap.empty[String, mutable.ArrayBuffer[Map[String, Long]]]
  private val startMs = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var drainedRows = 0L
  private var drainS = 0.0
  private var survivors, dropped, indexFiles = 0L
  private var growth = 0.0

  override def setup(ctx: Ctx): Unit = {
    val t0 = System.nanoTime()
    val (dir, exact, bytes) = Inputs.jpegCorpus(ctx.seed, s"${ctx.work}/images", Originals, ExactCopies, ShiftedCopies)
    ctx.inputs("setup.inputs_s") = (System.nanoTime() - t0) / 1e9
    corpus = dir; exactCopies = exact; corpusBytes = bytes
    nImages = Originals + ExactCopies + ShiftedCopies
    ctx.inputs ++= Seq("images" -> nImages, "image_bytes" -> bytes, "exact_copies" -> ExactCopies,
      "shifted_copies" -> ShiftedCopies, "source_files" -> SourceFiles, "triggers_per_stream" -> SourceFiles)
  }

  /** A whole pass over a small corpus of its own: enough triggers that the
    * per-trigger paths are compiled and JIT-warm before the measured pass
    * (with two, the measured triggers still sped up by a third from the
    * first to the last). */
  override def warmup(ctx: Ctx): Unit = {
    val warmCorpus = Inputs.jpegCorpus(ctx.seed + 1, s"${ctx.work}/warm_images", WarmImages, 1, 1)._1
    pass(ctx, 0, warmCorpus, WarmImages + 2, WarmFiles, record = false)
  }

  private def listImages(): Seq[Path] =
    Files.walk(Path.of(corpus)).iterator().asScala.filter(_.toString.endsWith(".jpg")).toSeq.sortBy(_.toString)

  override def nominalS: Double = 17.0

  override def run(ctx: Ctx, units: Int): Unit =
    (1 to units).foreach(n => pass(ctx, n, corpus, nImages, SourceFiles, record = true))

  private def pass(ctx: Ctx, opId: Long, corpus: String, images: Int, files: Int, record: Boolean): Unit = {
    val spark = ctx.spark
    val work = s"${ctx.work}/pass$opId"
    val ingested = ctx.op("ingest", "image", opId) {
      ImagePipeline.ingest(spark, corpus, s"$work/stage")
    }
    ingested.foreach { case (df, ms) =>
      if (record) ingestMs += ms
      val src = s"$work/src"
      val n = ctx.trace.span("split", "bench", opId)(splitIntoFiles(df, src, files))._1
      ctx.check("ingest", n == images, s"ingested $n rows, corpus has $images images")
      val schema = spark.read.parquet(src).schema

      val infer = stream(ctx, "infer", opId, files, record) {
        StreamingInference.streamTransform(spark, src, schema,
          d => ImagePipeline.batchInference(d, model), s"$work/infer_sink", s"$work/infer_ckpt")
      }
      infer.filter(_ => record).foreach { out => ctx.trace.span("check.infer", "bench", opId) {
        val got = multiset(out)
        if (reference == null) // batch inference over the same rows, once per run
          reference = multiset(ImagePipeline.batchInference(df, model))
        ctx.check("infer", got == reference, s"streamed inference (${got.values.sum} rows) differs from batch inference")
      }}

      val dedup = stream(ctx, "dedup", opId, files, record) {
        StreamingInference.streamImageDedup(spark, src, schema, "content", "path",
          s"$work/dedup_sink", s"$work/dedup_ckpt")
      }
      dedup.filter(_ => record).foreach { out => ctx.trace.span("check.dedup", "bench", opId) {
        val kept = out.select("path").collect().map(_.getString(0))
        val escaped = kept.count(p => exactCopies.exists(c => p.endsWith(c)))
        ctx.check("dedup", escaped == 0, s"$escaped bit-identical copies survived the dedup stream")
        survivors = kept.length; dropped = nImages - kept.length
        val counts = (survivors, dropped)
        ctx.check("dedup", firstDedup.forall(_ == counts), s"survivors/dropped $counts differ from ${firstDedup.get}")
        firstDedup = Some(counts)
        indexFiles = Files.walk(Path.of(s"$work/dedup_sink")).iterator().asScala
          .count(_.toString.endsWith(".parquet")).toLong
      }}
    }
  }

  /** Runs one stream to completion as a span and collects its triggers. */
  private def stream(ctx: Ctx, name: String, opId: Long, files: Int, record: Boolean)
      (body: => DataFrame): Option[DataFrame] = {
    val before = ctx.trace.progress.keySet.toSet
    ctx.attempted += 1
    val r = try Some(ctx.trace.span(s"stream.$name", "streaming", opId)(body))
    catch { case e: Exception => ctx.fail(name, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)); None }
    ctx.trace.drain()
    r.map { case (out, wallMs) =>
      val runs = ctx.trace.progress.keySet.toSet -- before
      val ps = runs.toSeq.flatMap(ctx.trace.progress(_)).filter(_._3 > 0).sortBy(_._1)
      ctx.check(name, ps.size == files, s"${ps.size} non-empty triggers, expected $files")
      val trig = ps.map(_._2.getOrElse("triggerExecution", 0L).toDouble)
      if (record) {
        triggerMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) ++= trig
        phases.getOrElseUpdate(name, mutable.ArrayBuffer.empty) ++= ps.map(_._2)
        startMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += wallMs - trig.sum
        drainedRows += ps.map(_._3).sum
        drainS += wallMs / 1e3
        // index growth: the last third of the triggers against the first
        val k = math.min(10, trig.size / 3)
        if (name == "dedup" && k > 0) growth = Stats.median(trig.takeRight(k)) / Stats.median(trig.take(k))
      }
      out
    }
  }

  /** Writes the ingested rows into [[SourceFiles]] parquet files, originals
    * first and planted copies in the last files, with modification times in
    * file order so the stream reads them in that order. Returns the rows. */
  private def splitIntoFiles(df: DataFrame, dir: String, files: Int): Long = {
    val spark = df.sparkSession
    val paths = df.select("path").collect().map(_.getString(0)).sorted
    val (copies, originals) = paths.partition(p => p.contains("_dup.") || p.contains("_bright."))
    val copyFiles = math.max(1, files / 6)
    val origFiles = files - copyFiles
    val fileOf = (originals.zipWithIndex.map { case (p, i) => p -> (i * origFiles / originals.length) } ++
      copies.zipWithIndex.map { case (p, i) => p -> (origFiles + i * copyFiles / copies.length) }).toMap
    val pathIdx = df.schema.fieldIndex("path")
    val rdd = df.rdd.map(r => (fileOf(r.getString(pathIdx)), r)).partitionBy(new Identity(files)).values
    val tmp = s"$dir.tmp"
    spark.createDataFrame(rdd, df.schema).write.parquet(tmp)
    Files.createDirectories(Path.of(dir))
    val parts = Files.list(Path.of(tmp)).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    val base = System.currentTimeMillis() - files * 1000L
    parts.foreach { p =>
      val i = p.getFileName.toString.stripPrefix("part-").take(5).toInt
      val dst = Path.of(dir, f"file_$i%04d.parquet")
      Files.move(p, dst)
      dst.toFile.setLastModified(base + i * 1000L)
    }
    paths.length.toLong
  }

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.select("origin", "prediction", "probabilities").collect().toSeq
      .map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  /** One op is one source file drained: its inference trigger plus its
    * dedup trigger. */
  override def opMs: Seq[Double] =
    triggerMs.getOrElse("infer", Nil).zip(triggerMs.getOrElse("dedup", Nil)).map { case (a, b) => a + b }.toSeq
  override def rowsMoved: Long = drainedRows
  override def busySeconds: Double = drainS

  override def detail(ctx: Ctx): Seq[Metric] =
    Seq(Metric("ingest_s", Stats.median(ingestMs.toSeq) / 1e3, "s")) ++
      Stats.latency("infer_trigger_ms", triggerMs.getOrElse("infer", Nil).toSeq) ++
      Stats.latency("dedup_trigger_ms", triggerMs.getOrElse("dedup", Nil).toSeq) :+
      Metric("stream_rows_per_s", if (drainS > 0) drainedRows / drainS else 0.0, "rows/s")

  override def layers(ctx: Ctx): Map[String, Double] = {
    // single-thread kernel costs over the corpus, outside Spark
    val imgs = listImages().map(p => Files.readAllBytes(p))
    def perImageUs(f: Array[Byte] => Any): Double = {
      val t0 = System.nanoTime(); imgs.foreach(f); (System.nanoTime() - t0) / 1e3 / imgs.size
    }
    val kernels = Seq(
      "decode" -> perImageUs(b => Kernels.decode(b)),
      "size" -> perImageUs(b => Kernels.size(b)),
      "grayscalePng" -> perImageUs(b => Kernels.grayscalePng(b)),
      "dHash64" -> perImageUs(b => Perceptual.dHash64(b)),
      "normalizedFeatures" -> perImageUs(b => Kernels.normalizedFeatures(b)))
    val pixels = imgs.map { b => val (w, h) = Kernels.size(b); w.toLong * h }.sum
    def p50(s: String, f: Map[String, Long] => Long) =
      Stats.median(phases.getOrElse(s, Nil).map(m => f(m).toDouble).toSeq)
    val streams = Seq("infer", "dedup").flatMap { s =>
      Seq(
        s"streaming.$s.addBatch_ms.p50" -> p50(s, _.getOrElse("addBatch", 0L)),
        s"streaming.$s.engine_ms.p50" -> p50(s, m => m.getOrElse("triggerExecution", 0L) - m.getOrElse("addBatch", 0L)),
        s"streaming.$s.latestOffset_ms.p50" -> p50(s, _.getOrElse("latestOffset", 0L)),
        s"streaming.$s.queryPlanning_ms.p50" -> p50(s, _.getOrElse("queryPlanning", 0L)),
        s"streaming.$s.walCommit_ms.p50" -> p50(s, _.getOrElse("walCommit", 0L)),
        s"streaming.$s.start_ms" -> Stats.median(startMs.getOrElse(s, Nil).toSeq))
    }
    (kernels.map { case (k, us) => s"image.kernel.${k}_us" -> us } ++ streams ++ Seq(
      "image.ingest.ms" -> Stats.median(ingestMs.toSeq),
      "image.bytes_in_mb" -> corpusBytes / 1048576.0,
      "image.pixels_m" -> pixels / 1e6,
      "streaming.dedup.trigger_growth" -> growth,
      "streaming.dedup.index_files" -> indexFiles.toDouble,
      "streaming.dedup.survivors" -> survivors.toDouble,
      "streaming.dedup.dropped" -> dropped.toDouble)).toMap
  }
}

object ImageStream {
  val Originals     = 200
  val ExactCopies   = 12
  val ShiftedCopies = 12
  val WarmImages    = 22
  val WarmFiles     = 6
  /** Source files, drained one per trigger by each stream. The last sixth
    * hold only the planted copies, which so arrive after every original is
    * in the dedup index. */
  val SourceFiles   = 12

  final class Identity(n: Int) extends Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }
}
