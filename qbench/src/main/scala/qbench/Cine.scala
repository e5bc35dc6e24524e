package qbench

import java.nio.file.{Files, Path, Paths}

import graft.pipeline._
import graft.sources.{Nifti, Sources}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField}

/** Seeded synthetic cine subjects in the reference's reformatted layout:
  * `<root>/<dataset>/<subject>_sa.nii.gz` (image) next to
  * `<subject>_sa_gt.nii.gz` (4-class label), plus a subjects CSV with the
  * vendor used for the grouped test split.
  *
  * Each subject is a (T, D, C=1, H, W) short-axis stack: a left-ventricle
  * blood pool (class 1) inside a myocardial ring (2) beside a right
  * ventricle (3), contracting over the cycle and shrinking towards the apex.
  * Intensities are integers, as in scanner data, with hashed noise. Sizes
  * never depend on the seed, only positions, radii and intensities do. */
object CineData {
  /** Subject geometry: frames, slices, rows, columns. */
  final case class Geometry(t: Int, d: Int, h: Int, w: Int) {
    def voxels: Long = t.toLong * d * h * w
    def shape: Seq[Int] = Seq(t, d, 1, h, w)
  }

  val Datasets = Seq("mmA", "mmB")
  val Vendors = Seq("A", "B", "C")

  final case class Subject(id: String, dataset: String, vendor: String, seed: Long)

  def subjects(seed: Long, n: Int): Seq[Subject] = (0 until n).map { i =>
    val r = new java.util.SplittableRandom(seed * 1000003L + i)
    val id = f"s${r.nextLong() & 0xffffffffL}%08x"
    Subject(id, Datasets(i % Datasets.size), Vendors(i % Vendors.size), r.nextLong())
  }

  /** label and image buffers of one subject, x fastest, then y, d, t. */
  def volumes(g: Geometry, subjectSeed: Long): (Array[Float], Array[Float]) = {
    val (t0, d0, h0, w0) = (g.t, g.d, g.h, g.w)
    val r = new java.util.SplittableRandom(subjectSeed)
    val k = h0 / 128.0
    val cx = (54 + r.nextDouble() * 20) * k; val cy = (54 + r.nextDouble() * 20) * k
    val r0 = (14 + r.nextDouble() * 6) * k; val thick = (4 + r.nextDouble() * 3) * k
    val squeeze = 0.15 + r.nextDouble() * 0.15
    val gain = 0.8 + r.nextDouble() * 0.4
    val base = Array(40.0, 420.0, 160.0, 380.0).map(_ * gain)
    val label = new Array[Float](g.voxels.toInt)
    val image = new Array[Float](g.voxels.toInt)
    var i = 0
    var t = 0
    while (t < t0) {
      val c = 1 - squeeze * math.sin(math.Pi * t / t0)
      var d = 0
      while (d < d0) {
        val s = 1 - 0.5 * d / math.max(1, d0 - 1)
        val rLv = r0 * s * c; val rMyo = rLv + thick * s
        val rvx = cx - 1.7 * rMyo; val rvRx = 0.9 * r0 * s * c; val rvRy = 1.4 * rvRx
        var y = 0
        while (y < h0) {
          var x = 0
          while (x < w0) {
            val dl = math.hypot(x - cx, y - cy)
            val ex = (x - rvx) / rvRx; val ey = (y - cy) / rvRy
            val cls =
              if (dl < rLv) 1 else if (dl < rMyo) 2 else if (ex * ex + ey * ey < 1) 3 else 0
            var h = subjectSeed ^ (i * 0x9E3779B97F4A7C15L)
            h ^= h >>> 31; h *= 0xBF58476D1CE4E5B9L; h ^= h >>> 29
            label(i) = cls.toFloat
            image(i) = math.round(base(cls) + 0.1 * (x + y) / k + (h & 63) - 32).toFloat
            i += 1
            x += 1
          }
          y += 1
        }
        d += 1
      }
      t += 1
    }
    (image, label)
  }

  private val PixDim = Seq(1.25f, 1.25f, 8.0f)

  /** Write the subjects' NIfTI files (the program's `Nifti.encode`, one
    * task per subject) and the subjects CSV under `root`; returns the
    * decoded voxel bytes written (image + label, float32). */
  def write(spark: SparkSession, g: Geometry, root: String, subs: Seq[Subject]): Long = {
    import spark.implicits._
    for (ds <- Datasets) Files.createDirectories(Paths.get(root, ds))
    spark.sparkContext.parallelize(subs, subs.size).foreach { s =>
      val (image, label) = volumes(g, s.seed)
      val dir = Paths.get(root, s.dataset)
      Files.write(dir.resolve(s"${s.id}_sa.nii.gz"), fastGzip(Nifti.encode(g.shape, image, PixDim, gzip = false)))
      Files.write(dir.resolve(s"${s.id}_sa_gt.nii.gz"), fastGzip(Nifti.encode(g.shape, label, PixDim, gzip = false)))
    }
    Sources.writeCsv(subs.map(s => (s.id, "NOR", s.vendor, s.dataset))
      .toDF("SubjectID", "Pathology", "Vendor", "Dataset"), s"$root/subjects")
    subs.size * 2L * g.voxels * 4L
  }

  /** gzip at the fastest level: the inputs are set-up, not the measured work. */
  private def fastGzip(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(b.length / 4)
    val gz = new java.util.zip.GZIPOutputStream(bos, 1 << 16) {
      `def`.setLevel(java.util.zip.Deflater.BEST_SPEED)
    }
    gz.write(b); gz.close()
    bos.toByteArray
  }

  /** The subjects table the split runs over. */
  def subjectTable(spark: SparkSession, root: String): DataFrame =
    Sources.subjectCsv(spark, s"$root/subjects", Seq(StructField("Dataset", StringType)))
      .select(col("SubjectID").as("subject_id"), col("Vendor").as("vendor"),
        col("Dataset").as("dataset"))

  /** `Sources.scanVolumes` over the tree, keyed by dataset and subject. */
  def scan(spark: SparkSession, g: Geometry, root: String): DataFrame =
    Sources.scanVolumes(spark, s"$root/mm*", "*.nii.gz", g.h, g.w)
      .select(
        regexp_extract(col("path"), "/([^/]+)/[^/]+$", 1).as("dataset"),
        regexp_extract(col("path"), "/([^/_]+)_sa(_gt)?\\.nii\\.gz$", 1).as("subject_id"),
        col("path").endsWith("_sa_gt.nii.gz").as("is_label"),
        col("length"), col("volume"))

  /** Image/label pairing: one record per subject with both tensors. */
  def pair(scanned: DataFrame): DataFrame = {
    val img = scanned.filter(!col("is_label")).select(col("dataset"), col("subject_id"), col("volume").as("image"))
    val lbl = scanned.filter(col("is_label")).select(col("dataset"), col("subject_id"), col("volume").as("label"))
    img.join(lbl, Seq("dataset", "subject_id"))
  }

  def config(g: Geometry, seed: Long): GraftConfig = GraftConfig(
    datasetNames = Datasets,
    keyPairs = Map("image" -> "label"),
    dimensionality = "2D",
    targetSize = (g.h, g.w),
    nrClasses = 4,
    oneHot = true,
    augment = AugmentConfig(enabled = true, noiseSigma = 0.05, blurSigma = 0.8,
      solarizeThreshold = 1.0, solarizeProb = 0.3),
    normalize = NormalizeConfig("standardize", "current", clamp = Some((-3.0, 3.0))),
    testPerGroup = 1,
    splitGroupCol = "vendor",
    validFraction = 0.2,
    seed = seed,
    batchSize = 16,
    dropLast = true)

  /** Bytes of every regular file under `dir`, and the file count. */
  def du(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }
  }

  /** Files under `dir` with their modification times, to prove a call wrote nothing. */
  def listing(dir: String): Map[String, Long] = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toMap
    finally s.close()
  }
}
