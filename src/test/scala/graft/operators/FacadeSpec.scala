package graft.operators

import graft.SparkSpec
import graft.core.{AreaDef, Crs}
import java.nio.file.Files

/** Resampler lifecycle (precompute/compute + LUT persistence), registry,
  * dynamic-area freeze, geocentric resolution, multimodal plumbing,
  * streaming bucket stats. */
class FacadeSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  private lazy val source = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, 11.280789, 56.011037, 1.0),
      (2L, 12.649354, 55.629675, 2.0),
      (3L, 12.080402, 55.641535, 3.0)).toDF("src_id", "lon", "lat", "value")
  }
  private lazy val target = {
    val s = spark
    import s.implicits._
    Seq((1L, 12.562036, 55.715613)).toDF("dst_id", "lon", "lat")
  }

  test("nearest resampler: precompute once, reuse across datasets (resampler.py:80-141)") {
    val dir = Files.createTempDirectory("lut").toString
    val r = new NearestResampler(source, target, 100000.0, Some(dir), "t1")
    val out1 = r.compute(source).collect()
    assert(out1.length == 1 && out1(0).getAs[Double]("value") == 2.0)
    // second dataset, same geometries — LUT reused from parquet
    val s = spark
    import s.implicits._
    val data2 = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("src_id", "value")
    val out2 = r.compute(data2).collect()
    assert(out2(0).getAs[Double]("value") == 20.0)
    // a fresh resampler instance loads the persisted LUT
    val r2 = new NearestResampler(source, target, 100000.0, Some(dir), "t1")
    assert(r2.compute(data2).collect()(0).getAs[Double]("value") == 20.0)
  }

  test("bilinear resampler LUT persists and recomputes across datasets") {
    val s = spark
    import s.implicits._
    val area = graft.core.AreaDef("b", graft.core.Crs.fromProj4("+proj=longlat"),
      8, 8, 0, 0, 8, 8)
    val pts = (for { i <- 0 until 12; j <- 0 until 12 } yield
      (i.toLong * 100 + j, i * 0.8 - 1 + 0.05 * j, j * 0.8 - 1 + 0.03 * i)).toSeq
    val src = pts.map { case (id, lo, la) => (id, lo, la, 2.0 * lo + la) }
      .toDF("src_id", "lon", "lat", "value")
    val dir = java.nio.file.Files.createTempDirectory("blut").toString
    val r = new BilinearResampler(src, area, radius = 2.5 * 111320, Some(dir))
    val out1 = r.compute(src).collect()
    assert(out1.length > 10)
    // second dataset on the same geometries reuses the persisted LUT
    val src2 = pts.map { case (id, lo, la) => (id, lo, la, 5.0) }
      .toDF("src_id", "lon", "lat", "value")
    val r2 = new BilinearResampler(src, area, radius = 2.5 * 111320, Some(dir))
    val out2 = r2.compute(src2).collect()
    assert(out2.nonEmpty && out2.forall(row => approx(row.getAs[Double]("value"), 5.0, 1e-9)))
  }

  // ---- resampler caches: one entry per geometry pair (resampler.py:69-78)

  /** The second granule of the cache tests: `source`'s ids 2 and 3 swap
    * positions, so the target's nearest point becomes id 3. */
  private lazy val movedSource = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, 11.280789, 56.011037, 1.0),
      (2L, 12.080402, 55.641535, 2.0),
      (3L, 12.649354, 55.629675, 3.0)).toDF("src_id", "lon", "lat", "value")
  }
  private val blArea = AreaDef("b", Crs.fromProj4("+proj=longlat"), 8, 8, 0, 0, 8, 8)
  /** A sheared 12x12 swath over `blArea`, moved east by `shift` degrees. */
  private def blSwath(shift: Double) = {
    val s = spark
    import s.implicits._
    (for { i <- 0 until 12; j <- 0 until 12 } yield {
      val (lo, la) = (i * 0.8 - 1 + 0.05 * j + shift, j * 0.8 - 1 + 0.03 * i)
      (i.toLong * 100 + j, lo, la, 2.0 * lo + la)
    }).toDF("src_id", "lon", "lat", "value")
  }
  private val blRadius = 2.5 * 111320
  private def nearest(src: org.apache.spark.sql.DataFrame, radius: Double, dir: Option[String]) =
    new NearestResampler(src, target, radius, dir, "t1")
  private def bilinear(src: org.apache.spark.sql.DataFrame, radius: Double, dir: Option[String]) =
    new BilinearResampler(src, blArea, radius, dir)
  private def image(r: Resampler, data: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    r.compute(data).collect()
      .map(row => row.getAs[Long]("dst_id") -> row.getAs[Double]("value")).toMap
  private def entries(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.filter(_.isDirectory)

  test("resampler caches: a second granule or a new radius on one cacheDir never reads the first's index") {
    val dirN = Files.createTempDirectory("lutkey").toString
    assert(image(nearest(source, 100000.0, Some(dirN)), source) == Map(1L -> 2.0))
    // same area, new granule, same cacheKey: the key covers the source
    val moved = image(nearest(movedSource, 100000.0, Some(dirN)), source)
    assert(moved == image(nearest(movedSource, 100000.0, None), source) && moved == Map(1L -> 3.0))
    // same pair, smaller radius: no source point is in reach any more
    assert(image(nearest(source, 5000.0, Some(dirN)), source).isEmpty)

    val dirB = Files.createTempDirectory("blutkey").toString
    val (sw1, sw2) = (blSwath(0.0), blSwath(0.3))
    val wide = image(bilinear(sw1, blRadius, Some(dirB)), sw1)
    assert(image(bilinear(sw2, blRadius, Some(dirB)), sw2) == image(bilinear(sw2, blRadius, None), sw2))
    val narrow = image(bilinear(sw1, blRadius / 4, None), sw1)
    assert(narrow.nonEmpty && narrow != wide)
    assert(image(bilinear(sw1, blRadius / 4, Some(dirB)), sw1) == narrow)
    assert(entries(dirN).size == 3 && entries(dirB).size == 3, "one entry per geometry pair")
  }

  test("resampler caches: an entry without its sidecar is rebuilt, never read") {
    // a write cut before its sidecar: another pair's parquet, no _graft_* file
    def torn(dir: String, other: String): Unit = {
      val Seq(entry) = entries(dir)
      val Seq(donor) = entries(other)
      entry.listFiles().foreach(_.delete())
      donor.listFiles().filterNot(_.getName.contains("_graft_"))
        .foreach(f => Files.copy(f.toPath, entry.toPath.resolve(f.getName)))
    }
    val (dirN, otherN) = (Files.createTempDirectory("luttorn"), Files.createTempDirectory("luttorn"))
    nearest(source, 100000.0, Some(dirN.toString)).precompute()
    nearest(movedSource, 100000.0, Some(otherN.toString)).precompute()
    torn(dirN.toString, otherN.toString)
    assert(image(nearest(source, 100000.0, Some(dirN.toString)), source) == Map(1L -> 2.0))

    val (dirB, otherB) = (Files.createTempDirectory("bluttorn"), Files.createTempDirectory("bluttorn"))
    val (sw1, sw2) = (blSwath(0.0), blSwath(0.3))
    bilinear(sw1, blRadius, Some(dirB.toString)).precompute()
    bilinear(sw2, blRadius, Some(otherB.toString)).precompute()
    torn(dirB.toString, otherB.toString)
    assert(image(bilinear(sw1, blRadius, Some(dirB.toString)), sw1) ==
      image(bilinear(sw1, blRadius, None), sw1))
  }

  test("resampler caches: a second instance on the same pair hits the one entry") {
    val dir = Files.createTempDirectory("luthit").toString
    nearest(source, 100000.0, Some(dir)).precompute()
    def listing = entries(dir).flatMap(_.listFiles()).map(f => (f.getName, f.lastModified)).toSet
    val written = listing
    val before = IndexMaintenance.controlReads.get()
    val r2 = nearest(source, 100000.0, Some(dir))
    r2.precompute()
    val reads = IndexMaintenance.controlReads.get() - before
    assert(entries(dir).size == 1 && listing == written, "the hit must not rewrite the entry")
    assert(reads >= 1 && reads <= 2, s"a cache hit did $reads control reads")
    assert(image(r2, source) == Map(1L -> 2.0))
  }

  test("registry lookup and error (future/resamplers/registry.py)") {
    val f = ResamplerRegistry.get("nearest")
    val r = f(source, target, 100000.0)
    assert(r.compute(source).count() == 1)
    assertThrows[IllegalArgumentException](ResamplerRegistry.get("bogus"))
    // precompute is idempotent: one persisted neighbour table per instance
    val g = ResamplerRegistry.get("gauss")(source, target, 100000.0)
    assert(g.precompute() eq g.precompute())
  }

  test("freeze: lonlat footprint with resolution (geometry.py:1224)") {
    val s = spark
    import s.implicits._
    val sw = Seq((0.5, 10.0), (9.5, 19.0), (4.0, 15.0)).toDF("lon", "lat")
    val a = GeometryOps.freeze("f", Crs.fromProj4("+proj=longlat"), sw, (1.0, 1.0))
    assert(a.width == 9 && a.height == 9)
    assert(a.xLL == 0.5 && a.yLL == 10.0)
  }

  test("freeze: antimeridian-crossing footprint wraps (geometry.py:1050-1057)") {
    val s = spark
    import s.implicits._
    val sw = Seq((175.0, 0.0), (-175.0, 5.0), (179.0, 2.0)).toDF("lon", "lat")
    val a = GeometryOps.freeze("f", Crs.fromProj4("+proj=longlat"), sw, (1.0, 1.0))
    assert(a.width == 10, s"width ${a.width}") // 175..185, not 350 cells
  }

  test("geocentricResolution estimates lattice pitch (geometry.py:2691)") {
    val s = spark
    import s.implicits._
    val sw = (0 until 400).map(i => ((i % 20) * 0.5, (i / 20) * 0.5)).toDF("lon", "lat")
    val res = GeometryOps.geocentricResolution(sw)
    // 0.5 deg ~ 55.6 km at the equator; consecutive-sample estimate within 2x
    assert(res > 20000 && res < 120000, s"res $res")
  }

  test("geocentricResolution picks the modal pitch of a stacked two-pitch swath") {
    val s = spark
    import s.implicits._
    // Stacked swath (geometry.py:2879): 30 rows at 0.2 deg pitch over 10 rows
    // at 0.6 deg pitch, single column so every consecutive distance IS a
    // pitch. The mode must land on the dominant 0.2 deg (~22 km) pitch; a
    // median over a differently-weighted mix can land between the modes.
    val lats = {
      val fine = (0 until 30).map(_ * 0.2)
      val base = fine.last
      val coarse = (1 to 10).map(base + _ * 0.6)
      fine ++ coarse
    }
    val sw = lats.zipWithIndex.map { case (la, i) => (i, 0, 10.0, la) }
      .toDF("y", "x", "lon", "lat")
    val res = GeometryOps.geocentricResolution(sw)
    val finePitchM = 0.2 * 111000 // ~22 km
    assert(res > finePitchM * 0.5 && res < finePitchM * 1.5,
      s"mode $res not on the dominant ~$finePitchM m pitch")
  }

  test("geocentricResolution is identical under any partition layout") {
    val s = spark
    import s.implicits._
    // 2500 points, sample cap 1000: without a deterministic ordering the
    // limit()'s pick (and so the estimate) changed with the layout
    val sw = (0 until 2500).map { i =>
      (i / 50, i % 50, (i % 50) * 0.37 - 3.0, 40.0 + (i / 50) * 0.21) }
      .toDF("y", "x", "lon", "lat")
    val r1 = GeometryOps.geocentricResolution(sw.repartition(1), sampleSize = 1000)
    val r32 = GeometryOps.geocentricResolution(sw.repartition(32), sampleSize = 1000)
    assert(r1 == r32, s"layout-dependent estimate: $r1 vs $r32")
    // ungridded swaths order by (lat, lon) — same invariant
    val flat = sw.select("lon", "lat")
    val f1 = GeometryOps.geocentricResolution(flat.repartition(1), sampleSize = 1000)
    val f32 = GeometryOps.geocentricResolution(flat.repartition(32), sampleSize = 1000)
    assert(f1 == f32, s"layout-dependent estimate (lat/lon order): $f1 vs $f32")
  }

  test("freeze: antimeridian detection survives fill-value rows (one filtered scan)") {
    val s = spark
    import s.implicits._
    // a lon=-999 fill row used to reach the unfiltered wrapped-span scan,
    // dragging wMin to -639 and silently disabling wrap detection
    val sw = Seq((175.0, 0.0), (-175.0, 5.0), (179.0, 2.0), (-999.0, -999.0))
      .toDF("lon", "lat")
    val a = GeometryOps.freeze("f", Crs.fromProj4("+proj=longlat"), sw, (1.0, 1.0))
    assert(a.width == 10, s"wrap detection lost on dirty data: width ${a.width}")
  }

  test("multimodal: deterministic stub decode + payload dedup + frame sampling") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "abcdef".getBytes), (2L, "abcdef".getBytes), (3L, "other-bytes".getBytes))
      .toDF("id", "payload")
    val meta = Multimodal.withDecodedMeta(df).select("id", "media_meta.*").collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[String]("format"), r.getAs[Int]("width"), r.getAs[Long]("n_bytes"))).toMap
    assert(meta(1L) == meta(2L))
    assert(meta(1L)._3 == 6L)

    val dedup = Multimodal.dedupPayloads(df, "id").collect()
    assert(dedup.length == 2 && dedup.exists(_.getAs[Long]("n") == 2L))

    val frames = Multimodal.sampleFrames(df.filter(col("id") === 3L), everyK = 1, frameBytes = 4)
    assert(frames.count() == 3) // 11 bytes -> 3 windows of 4
    // frame_idx is the position within the payload — stable under partitioning
    val idx1 = frames.select("frame_idx").collect().map(_.getLong(0)).sorted
    assert(idx1.sameElements(Array(0L, 1L, 2L)))
    val idxRep = Multimodal.sampleFrames(df.repartition(7), everyK = 2, frameBytes = 2)
      .filter(col("id") === 3L).select("frame_idx").collect().map(_.getLong(0)).sorted
    assert(idxRep.sameElements(Array(0L, 2L, 4L))) // 11 bytes -> 6 windows, every 2nd
  }

  test("patchGrid: ViT patch tokens with clamped edge patches") {
    val s = spark
    import s.implicits._
    // 32x17 at p=16: pw=2, ph=2 -> 4 patches; bottom row clamps y1 to 17
    val img = Seq((1L, 32, 17)).toDF("id", "width", "height")
    val p = Multimodal.patchGrid(img, patchSize = 16).orderBy("patch_id")
      .select("patch_id", "py", "px", "x0", "y0", "x1", "y1").collect()
    assert(p.map(_.toSeq).toSeq == Seq(
      Seq(0L, 0L, 0L, 0L, 0L, 16L, 16L),
      Seq(1L, 0L, 1L, 16L, 0L, 32L, 16L),
      Seq(2L, 1L, 0L, 0L, 16L, 16L, 17L),
      Seq(3L, 1L, 1L, 16L, 16L, 32L, 17L)))
    // portable meta is deterministic and UDF-free (pure codegen exprs)
    val meta2 = Multimodal.withPortableMeta(
      Seq((1L, "hello")).toDF("id", "t").withColumn("payload", encode(col("t"), "UTF-8")))
    val r1 = meta2.select("width", "height", "n_bytes").head()
    val r2 = meta2.repartition(3).select("width", "height", "n_bytes").head()
    assert(r1 == r2 && r1.getLong(2) == 5L)
    assert(r1.getInt(0) >= 16 && r1.getInt(0) < 80)
  }

  test("streaming bucket stats over a rate-less memory stream (SURVEY §2.10)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger

    implicit val sq = s.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double, Double, Double)]
    val area = AreaDef("s", Crs.fromProj4("+proj=longlat"), 10, 10, 0, 0, 10, 10)
    val stream = mem.toDF.toDF("ts", "lon", "lat", "value")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:10")
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 10:00:40")
    mem.addData((t0, 1.5, 1.5, 2.0), (t1, 1.6, 1.6, 4.0), (t1, 5.5, 5.5, 10.0))
    val q = graft.streaming.StreamingOps.bucketStats(stream, area, "1 minute", "2 minutes")
      .writeStream.format("memory").queryName("bucket_stream")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val rows = s.sql("SELECT cell, n, sum_v, avg_v FROM bucket_stream").collect()
    val byCell = rows.map(r => r.getAs[Long]("cell") -> r).toMap
    assert(byCell(area.cellOf(1.5, 1.5)).getAs[Long]("n") == 2L)
    assert(byCell(area.cellOf(1.5, 1.5)).getAs[Double]("avg_v") == 3.0)
    assert(byCell(area.cellOf(5.5, 5.5)).getAs[Double]("sum_v") == 10.0)
  }
}
