package qbench

import graft.pipeline._
import graft.tensor.{AffineParams, Kernels, Tensors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The cine path shared by both cine workloads: inputs, the DataModule over
  * them, and the checks every cache must pass. */
object Cine {
  import CineData.Geometry

  /** The seed whose outputs are recorded in qbench/expected/digests.txt.
    * Every run warms up on it, whatever its own seed, so a result that
    * changes between runs or processes fails a check. */
  val RefSeed = 1L

  final case class Inputs(root: String, seed: Long, subjects: Seq[CineData.Subject], decodedBytes: Long)

  /** Writes the subjects of `seed` under `<work>/<tag>`, over what is there. */
  def write(ctx: Ctx, g: Geometry, n: Int, tag: String, seed: Long): Inputs = {
    val root = s"${ctx.work}/$tag"
    val subs = CineData.subjects(seed, n)
    Inputs(root, seed, subs, CineData.write(ctx.spark, g, root, subs))
  }

  def images(ctx: Ctx, g: Geometry, in: Inputs): DataFrame =
    CineData.scan(ctx.spark, g, in.root).filter(!col("is_label"))
      .select(col("dataset"), col("subject_id"), col("volume").as("image"))

  def module(ctx: Ctx, g: Geometry, in: Inputs, cacheRoot: String): DataModule =
    DataModule(ctx.spark, CineData.config(g, in.seed), CineData.subjectTable(ctx.spark, in.root),
      CineData.pair(CineData.scan(ctx.spark, g, in.root)), cacheRoot)

  /** Exploration's three sweeps forced as one action, so the per-record
    * feature pass under them runs once. */
  def explore(imgs: DataFrame): DataFrame =
    Exploration.explore(imgs, "image", "dataset").toSeq.sortBy(_._1)
      .map { case (f, df) => df.withColumn("feature", lit(f)) }
      .reduce(_ unionByName _)

  /** Cache invariants; returns the number of records cached. */
  def checkCache(ctx: Ctx, r: Result, g: Geometry, dm: DataModule, devSubjects: Long): Long = {
    val spark = ctx.spark
    val records = DatasetCacher.load(spark, dm.cachePath)
    val n = records.count()
    val manifest = DatasetCacher.manifest(spark, dm.cachePath).count()
    val badMin = records.filter(col("image_meta.amin") =!= 0).count()
    r.check("cache records = dev subjects x T x D", n == devSubjects * g.t * g.d,
      s"records $n dev $devSubjects")
    r.check("manifest rows = records", manifest == n, s"manifest $manifest records $n")
    r.check("stored image_meta.amin is 0", badMin == 0, s"$badMin records off")
    n
  }

  def devSubjects(dm: DataModule): Long = dm.split.filter(col("split").isin("train", "valid")).count()

  /** The last component of a cache path: the fingerprint the cache is named by. */
  def pathName(path: String): String = path.split('/').last
}

/** The paper's path over seeded cine subjects. Set-up is the cold cache
  * build: write the NIfTI inputs, decode, pair, split, fingerprint, run the
  * cache plan and write the cache. A timed pass explores the decoded
  * subjects, then serves from the existing cache: a cache hit, an augmented
  * training epoch, a weighted draw, and prediction on the valid split. */
object CineServeWarm extends Workload {
  val name = "cine_serve_warm"
  val Geo = CineData.Geometry(5, 4, 64, 64)
  val Subjects = 8
  val Draws = 32
  /** ~11 s measured on 4 cores; 10 s of budget gives one pass. */
  val NominalPassS = 10.0

  final case class Sample(explore: Double, hit: Double, epoch: Double, draw: Double, predict: Double,
                          wrote: Boolean, path: String) {
    def calls: Seq[Double] = Seq(explore, hit, epoch, draw, predict)
    def total: Double = calls.sum
  }

  /** Prediction on the served valid split: the served one-hot label stands
    * in for the model's 4-channel logits. */
  def predict(dm: DataModule): DataFrame = {
    val scored = Predictor.resolveScorer("expr:label")(dm.dataloader("valid", 0), "image")
    Predictor.invertPredictions(
      Predictor.argmaxChannels(Predictor.softmaxChannels(scored, "prediction"), "prediction"),
      Geo.h, Geo.w)
  }

  def classCounts(pred: DataFrame): DataFrame = Predictor.classCounts(pred, "prediction", 4)

  def run(ctx: Ctx, r: Result): Unit = {
    val spark = ctx.spark
    // untimed warm-up on the reference seed, which also checks the outputs
    val ref = Cine.write(ctx, Geo, Subjects, "ref", Cine.RefSeed)
    val refDm = Cine.module(ctx, Geo, ref, s"${ctx.work}/refcache").setup(overwrite = true)
    ctx.expected.check(r, s"cache_path_name_seed${Cine.RefSeed}", Cine.pathName(refDm.cachePath))
    val epoch0 = Digest.of(refDm.dataloader("train", 0))
    ctx.expected.check(r, s"served_epoch0_seed${Cine.RefSeed}", epoch0)
    val refTrain = DatasetCacher.load(spark, refDm.cachePath).filter(col("split") === "train").count()
    val batch = CineData.config(Geo, Cine.RefSeed).batchSize
    r.check("served epoch drops only the incomplete last batch",
      epoch0.split(':')(0).toLong == refTrain / batch * batch, s"$epoch0 from $refTrain train records")
    Util.force(Cine.explore(Cine.images(ctx, Geo, ref)))
    val drawn = refDm.weightedDataloader("train", 0, Seq("dataset"), Draws).count()
    r.check("weighted draw returns the draws requested", drawn == Draws, s"$drawn")
    // checked on a persisted copy: a filter pushed into the predict chain
    // would inline the HOF softmax into every element access
    val pred = predict(refDm).persist()
    val bad = pred.filter(!(col("prediction.shape") === typedLit(Seq(1, 1, 1, Geo.h, Geo.w)))).count()
    val counted = classCounts(pred).filter(
      (col("class_0") + col("class_1") + col("class_2") + col("class_3")) =!= Geo.h * Geo.w).count()
    r.check("inverted prediction has the cached geometry", bad == 0 && counted == 0,
      s"$bad shapes and $counted class counts off")
    Util.cleanup(spark)

    // set-up, three times: write this seed's inputs, then build its cache cold
    val cacheRoot = s"${ctx.work}/cache"
    var in: Cine.Inputs = null
    var dm: DataModule = null
    val builds = scala.collection.mutable.ArrayBuffer.empty[Double]
    val paths = scala.collection.mutable.ArrayBuffer.empty[String]
    for (_ <- 0 until 3) {
      val (_, s) = Util.secs {
        in = Cine.write(ctx, Geo, Subjects, "in", ctx.seed)
        builds += Util.secs { dm = Cine.module(ctx, Geo, in, cacheRoot).setup(overwrite = true) }._2
      }
      r.setupSecs += s
      paths += dm.cachePath
    }
    val dev = Cine.devSubjects(dm)
    val records = Cine.checkCache(ctx, r, Geo, dm, dev)
    r.check("same seed gives the same cache path", paths.distinct.size == 1, paths.distinct.mkString(","))
    val cfg = CineData.config(Geo, ctx.seed)
    val cached = DatasetCacher.load(spark, dm.cachePath)
    val nTrain = cached.filter(col("split") === "train").count()
    val nValid = cached.filter(col("split") === "valid").count()
    val served = nTrain / cfg.batchSize * cfg.batchSize
    Util.cleanup(spark)

    var epoch = 1L
    def pass(t: Tracer): Sample = {
      val x = Util.secs(t.span("Exploration.explore")(Util.force(Cine.explore(Cine.images(ctx, Geo, in)))))._2
      val before = CineData.listing(cacheRoot)
      val (hit, h) = Util.secs(t.span("DataModule.setup")(Cine.module(ctx, Geo, in, cacheRoot).setup()))
      val wrote = CineData.listing(cacheRoot) != before
      val e = Util.secs(t.span("DataModule.dataloader")(Util.force(hit.dataloader("train", epoch))))._2
      val d = Util.secs(t.span("DataModule.weightedDataloader")(
        Util.force(hit.weightedDataloader("train", epoch, Seq("dataset"), Draws))))._2
      val p = Util.secs(t.span("Predictor")(Util.force(classCounts(predict(hit)))))._2
      epoch += 1
      ctx.log(f"pass explore $x%.3f hit $h%.3f epoch $e%.3f draw $d%.3f predict $p%.3f")
      Sample(x, h, e, d, p, wrote, hit.cachePath)
    }
    val (samples, all) = Util.passes(ctx, r, NominalPassS)(pass)(_.calls)
    Util.leakAfter(ctx, r)
    // operations: each set-up build and each timed exploration, hit, epoch, draw and predict
    r.attempted += builds.size + 5L * all.size
    r.check("a cache hit writes no file", !all.exists(_.wrote))
    r.check("a cache hit resolves the same cache path", all.forall(_.path == dm.cachePath))
    if (r.checks.exists(!_._2)) r.failed += 1
    Util.cleanup(spark)

    r.passSecs ++= samples.map(_.total)
    r.items = (served + Draws + nValid).toDouble * samples.size
    r.itemSecs = r.passSecs.sum
    val (cacheBytes, cacheFiles) = CineData.du(dm.cachePath)
    r.named("cache_subjects_per_s") = (dev / Util.median(builds.toSeq), "1/s")
    r.named("cache_bytes_per_input_byte") = (cacheBytes.toDouble / (in.decodedBytes / Subjects * dev), "ratio")
    r.named("explore_s") = (Util.median(samples.map(_.explore)), "s")
    r.named("cache_hit_s") = (Util.median(samples.map(_.hit)), "s")
    r.named("serve_records_per_s") = (served * samples.size / samples.map(_.epoch).sum, "1/s")
    r.named("weighted_records_per_s") = (Draws * samples.size / samples.map(_.draw).sum, "1/s")
    r.named("predict_records_per_s") = (nValid * samples.size / samples.map(_.predict).sum, "1/s")
    r.named("epoch_s") = (Util.median(samples.map(_.epoch)), "s")
    r.notes("cache_path_name") = Cine.pathName(dm.cachePath)
    r.notes("cache_records") = records.toString
    r.notes("cache_files") = cacheFiles.toString
    r.notes("decoded_input_bytes") = in.decodedBytes.toString
    r.notes("train_records") = nTrain.toString
    r.notes("valid_records") = nValid.toString
    r.notes("storage_memory_bytes") = Util.storageMemory(spark).toString

    if (ctx.trace) {
      buildLayers(ctx, r, in)
      layers(ctx, r, dm, in)
    }
  }

  /** Self time of each layer of the cold cache build and the exploration,
    * each step run over its materialized input. */
  private def buildLayers(ctx: Ctx, r: Result, in: Cine.Inputs): Unit = {
    val spark = ctx.spark
    val cfg = CineData.config(Geo, in.seed)
    val rec = new Recorder(spark)
    val tr = new Tracer(spark, s"seed${ctx.seed}-build", Some(rec))
    rec.during {
      val scanned = CineData.scan(spark, Geo, in.root)
      Layers.record(r, "Sources.scanVolumes", Layers.time(tr, "Sources.scanVolumes")(Util.force(scanned)))
      val (_, records) = Layers.step(r, tr, "pairing", scanned)(CineData.pair)
      val subjects = CineData.subjectTable(spark, in.root)
      val (_, split) = Layers.step(r, tr, "DataSplit.split", subjects)(DataSplit.split(_, "subject_id",
        cfg.splitGroupCol, cfg.testPerGroup, cfg.validFraction, cfg.seed))
      val devSubjects = split.filter(col("split").isin("train", "valid")).localCheckpoint(eager = true)
      val devIds = devSubjects.select(col("subject_id"))
      Layers.record(r, "DatasetCacher.fingerprint", Layers.time(tr, "DatasetCacher.fingerprint")(
        DatasetCacher.fingerprint(cfg, devIds, "subject_id")))
      val devRecords = records.join(broadcast(devSubjects.select(col("subject_id"), col("split"))), Seq("subject_id"))
      val (_, cached) = Layers.step(r, tr, "TransformPlanner.cachePlan", devRecords)(
        TransformPlanner.cachePlan(cfg, Seq("image"), Seq("label"), Seq("dataset", "subject_id")))
      val toWrite = cached.withColumn("file_id", concat_ws("-", col("dataset"), col("subject_id"),
        format_string("%02d", col("slice_nr")), format_string("%02d", col("frame_nr"))))
        .localCheckpoint(eager = true)
      val layerRoot = s"${ctx.work}/layercache"
      Layers.record(r, "DatasetCacher.materialize", Layers.time(tr, "DatasetCacher.materialize")(
        DatasetCacher.materialize(spark, toWrite, Seq("file_id", "subject_id", "dataset", "split",
          "frame_nr", "slice_nr", "total_nr_frames", "total_nr_slices"),
          layerRoot, cfg, devIds, "subject_id", overwrite = true)))
      val path = DatasetCacher.cachePath(layerRoot, cfg, DatasetCacher.fingerprint(cfg, devIds, "subject_id"))
      val (bytes, files) = CineData.du(path)
      val (_, feats) = Layers.step(r, tr, "Exploration.recordFeatures", Cine.images(ctx, Geo, in))(
        Exploration.recordFeatures(_, "image"))
      Layers.step(r, tr, "Exploration.sweep", feats) { f =>
        Seq("rec_max", "rec_mean", "rec_std")
          .map(ft => Exploration.sweep(f, "dataset", ft).withColumn("feature", lit(ft)))
          .reduce(_ unionByName _)
      }
      val L = r.layers
      L("Sources.input_bytes") = (scanned.agg(sum("length")).head().getLong(0).toDouble, "bytes")
      L("Sources.voxels") = ((in.subjects.size * 2L * Geo.voxels).toDouble, "count")
      L("DatasetCacher.bytes_written") = (bytes.toDouble, "bytes")
      L("DatasetCacher.files_written") = (files.toDouble, "count")
      L("DatasetCacher.records") = (DatasetCacher.manifest(spark, path).count().toDouble, "count")
    }
    Spans.add(tr)
    Util.cleanup(spark)
  }

  /** Self time of each layer. The serve steps are the public kernels
    * `TransformPlanner.servePlan` composes, applied in its order with its
    * arguments, each over the materialized output of the step before. */
  private def layers(ctx: Ctx, r: Result, dm: DataModule, in: Cine.Inputs): Unit = {
    val spark = ctx.spark
    val cfg = CineData.config(Geo, in.seed)
    val a = cfg.augment
    val epoch = 7L
    val rec = new Recorder(spark)
    val tr = new Tracer(spark, s"seed${ctx.seed}-layers", Some(rec))
    def step(name: String, input: DataFrame)(f: DataFrame => DataFrame): DataFrame =
      Layers.step(r, tr, name, input)(f)._2
    def time(name: String)(body: => Unit): Unit = Layers.record(r, name, Layers.time(tr, name)(body))
    rec.during {
      // cache hit and scan; the hit's split and fingerprint are sized with the build's
      time("DatasetCacher.isCached")(DatasetCacher.isCached(spark, dm.cachePath))
      time("DatasetCacher.load")(Util.force(DatasetCacher.load(spark, dm.cachePath)))
      r.layers("DatasetCacher.scan_bytes") = (tr.spans.last.counters.getOrElse("spark.input_bytes", 0.0), "bytes")

      // serve steps
      val train = DatasetCacher.load(spark, dm.cachePath).filter(col("split") === "train")
        .withColumn("_aug_key", concat_ws("#", col("file_id"), lit(epoch)))
      def warped(c: String, bilinear: Boolean) = {
        val k = Kernels.affineResample(col(s"$c.shape"), col(s"$c.data"), col("_affine"),
          lit(Geo.h), lit(Geo.w), lit(bilinear))
        struct(k("_1").as("shape"), k("_2").as("data"))
      }
      val affine = step("Kernels.affineResample", train)(_.withColumn("_affine",
        AffineParams.randomAffine(col("_aug_key"), cfg.seed, a.maxRotationDeg, a.rotationProb,
          a.scaleRange, a.scaleProb, a.flipProb, a.maxShift, a.shiftProb))
        .withColumn("image", warped("image", bilinear = true))
        .withColumn("label", warped("label", bilinear = false)))
      val std = step("TransformPlanner.standardize", affine) { df =>
        val st = Kernels.bufferStats(col("image.data"))
        val (mean, sd) = (col("_st._3"), col("_st._4"))
        df.withColumn("_st", st).withColumn("image", Tensors.tensor(col("image.shape"),
          when(sd > 0, Kernels.shiftScale(col("image.data"), -mean, lit(1.0) / sd))
            .otherwise(Kernels.shiftScale(col("image.data"), -mean, lit(0.0))))).drop("_st")
      }
      val noise = step("Tensors.gaussianNoise", std)(_.withColumn("image",
        Tensors.gaussianNoise(col("image"), a.noiseSigma, col("_aug_key"), cfg.seed + 1)))
      val solar = step("Tensors.solarize", noise)(_.withColumn("image",
        Tensors.solarize(col("image"), a.solarizeThreshold, a.solarizeProb, col("_aug_key"), cfg.seed + 2)))
      val blur = step("Kernels.gaussianBlur", solar) { df =>
        val k = Kernels.gaussianBlur(col("image.shape"), col("image.data"), lit(a.blurSigma))
        df.withColumn("image", struct(k("_1").as("shape"), k("_2").as("data")))
      }
      val (lo, hi) = cfg.normalize.clamp.get
      val clamp = step("Tensors.clamp", blur)(_.withColumn("image", Tensors.clamp(col("image"), lo, hi)))
      val served = step("Tensors.oneHot", clamp)(_.withColumn("label",
        Tensors.oneHot(col("label"), cfg.nrClasses))).drop("_aug_key")
      // a note, not a check: the step chain is this benchmark's copy of servePlan
      val plan = TransformPlanner.servePlan(cfg, Seq("image"), Seq("label"), "file_id",
        augmented = true, epoch = epoch)(DatasetCacher.load(spark, dm.cachePath).filter(col("split") === "train"))
      r.notes("serve_steps_match_servePlan") = (Digest.of(served) == Digest.of(plan)).toString

      // batching and draws
      step("BatchServer.shuffledBatches", served)(BatchServer.shuffledBatches(_, "file_id", epoch,
        cfg.batchSize, cfg.dropLast))
      val weights = step("BatchServer.inverseFrequencyWeights", train)(
        BatchServer.inverseFrequencyWeights(_, Seq("dataset")))
      step("BatchServer.weightedDraw", weights)(BatchServer.weightedDraw(_, "file_id", Draws, cfg.seed + epoch))

      // predict chain, from the served valid split
      time("DataModule.dataloader_valid")(Util.force(dm.dataloader("valid", 0)))
      val scored = step("Predictor.resolveScorer", dm.dataloader("valid", 0))(
        Predictor.resolveScorer("expr:label")(_, "image"))
      val soft = step("Predictor.softmaxChannels", scored)(Predictor.softmaxChannels(_, "prediction"))
      val arg = step("Predictor.argmaxChannels", soft)(Predictor.argmaxChannels(_, "prediction"))
      val inv = step("Predictor.invertPredictions", arg)(Predictor.invertPredictions(_, Geo.h, Geo.w))
      step("Predictor.classCounts", inv)(classCounts)
    }
    Spans.add(tr)
    Util.cleanup(spark)

    // the untraced times these self times should account for
    val L = r.layers
    L("untraced.epoch_s") = (r.named("epoch_s")._1, "s")
    L("untraced.predict_s") = (r.notes("valid_records").toDouble / r.named("predict_records_per_s")._1, "s")
    L("untraced.cache_hit_s") = (r.named("cache_hit_s")._1, "s")
    L("untraced.explore_s") = (r.named("explore_s")._1, "s")
    def sum(names: Seq[String]): Double = names.map(n => L(s"${n}_s")._1).sum
    L("serve_steps_sum_s") = (sum(Seq("DatasetCacher.load", "Kernels.affineResample",
      "TransformPlanner.standardize", "Tensors.gaussianNoise", "Tensors.solarize", "Kernels.gaussianBlur",
      "Tensors.clamp", "Tensors.oneHot", "BatchServer.shuffledBatches")), "s")
    L("predict_steps_sum_s") = (sum(Seq("DataModule.dataloader_valid", "Predictor.resolveScorer",
      "Predictor.softmaxChannels", "Predictor.argmaxChannels",
      "Predictor.invertPredictions", "Predictor.classCounts")), "s")
  }
}
