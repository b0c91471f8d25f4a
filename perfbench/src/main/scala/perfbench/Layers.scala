package perfbench

/** The per-layer metrics every traced run prints, in one fixed list: a
  * workload fills the ones its layers produce and the rest read zero (the
  * layer is bypassed). The `spark` layer's metrics come from [[Engine]]. */
object Layers {
  val Names: Seq[String] = Seq("operators", "image", "streaming", "tables")

  val OperatorFns: Seq[String] = Seq("dropExactDuplicates", "dropNearDuplicates", "simHashCandidatePairs",
    "jaccardJoinExact", "fitIvfCentroids", "knnJoinIvf", "semanticDedup")
  val Kernels: Seq[String] = Seq("decode", "size", "grayscalePng", "dHash64", "normalizedFeatures")
  val StreamPhases: Seq[String] = Seq("addBatch", "engine", "latestOffset", "queryPlanning", "walCommit")
  val TableOps: Seq[String] = Seq("commitAppend", "commitMerge", "commitDeleteDV", "commitUpdate",
    "commitCompact", "sql", "read", "readVersion", "changes")

  val Catalog: Seq[(String, String)] =
    Names.map(l => s"$l.self_ms" -> "ms") ++
    OperatorFns.map(f => s"operators.$f.ms" -> "ms") ++ Seq(
      "operators.minhash.candidate_pairs" -> "count", "operators.minhash.confirm_ratio" -> "ratio",
      "operators.simhash.candidate_pairs" -> "count", "operators.jaccard.pairs_out" -> "count",
      "operators.planted_recall" -> "ratio", "image.ingest.ms" -> "ms") ++
    Kernels.map(k => s"image.kernel.${k}_us" -> "us") ++ Seq(
      "image.bytes_in_mb" -> "MB", "image.pixels_m" -> "Mpx") ++
    Seq("infer", "dedup").flatMap(s =>
      StreamPhases.map(p => s"streaming.$s.${p}_ms.p50" -> "ms") :+ (s"streaming.$s.start_ms" -> "ms")) ++ Seq(
      "streaming.dedup.trigger_growth" -> "ratio", "streaming.dedup.index_files" -> "count",
      "streaming.dedup.survivors" -> "count", "streaming.dedup.dropped" -> "count") ++
    TableOps.flatMap(o => Seq(s"tables.$o.ms" -> "ms", s"tables.$o.actions" -> "count",
      s"tables.$o.plan_ms" -> "ms")) ++ Seq(
      "tables.write_amp" -> "ratio", "tables.files_live" -> "count", "tables.log_entries" -> "count",
      "tables.compact.bytes_rewritten" -> "bytes", "setup.inputs_s" -> "s")

  /** The full list with `values` filled in and each layer's self time
    * (ms over the measured window) taken from the trace. */
  def all(values: Map[String, Double], trace: Trace): Seq[Metric] = {
    val self = trace.selfMsByLayer()
    val known = Catalog.map(_._1).toSet
    val unknown = values.keySet -- known
    require(unknown.isEmpty, s"metrics missing from the catalog: ${unknown.mkString(", ")}")
    Catalog.map { case (name, unit) =>
      val v = name match {
        case n if n.endsWith(".self_ms") => self.getOrElse(n.stripSuffix(".self_ms"), 0.0)
        case n => values.getOrElse(n, 0.0)
      }
      Metric(name, v, unit)
    }
  }
}
