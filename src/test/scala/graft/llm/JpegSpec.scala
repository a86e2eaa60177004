package graft.llm

import graft.SparkSpec

/** The lossy half of the JPEG tier — everything the DuckDB oracle
  * CANNOT see, pinned with measured margins instead: `mm_jpeg_meta` /
  * `mm_jpeg_dedup` oracle only what survives the codec exactly
  * (container facts, fixed-quality determinism); this spec pins the
  * decoded-PIXEL envelope those queries stand on.
  *
  *  1. determinism: one raster, one quality → byte-identical payloads
  *     (the exactness `mm_jpeg_dedup`'s oracle is built on);
  *  2. container facts: the hand-written SOF parse ≡ the ImageIO decode
  *     ≡ the raster arithmetic, on every id;
  *  3. error envelope: per-image MEAN absolute pixel error of the
  *     decode stays inside a fixed bound (our rasters are adversarial —
  *     pseudorandom high-frequency content, the worst case for a DCT
  *     codec — so this bound is conservative for natural images);
  *  4. aHash stability: decoded-pixel aHash vs source-raster aHash
  *     within the dedup Hamming radius on EVERY image — the property
  *     that makes a perceptual hash a near-dup key across a lossy hop;
  *  5. the tolerant tier: the SAME image re-encoded at two DIFFERENT
  *     qualities still pairs inside the radius (the cross-quality
  *     re-upload class the exact tier can't claim);
  *  6. separation: across ALL distinct-id pairs in the tested range, no
  *     pair satisfies the dedup verify (Hamming ≤ 10 ∧ equal n_px ∧
  *     equal gray sum) — false merges are structurally absent, not
  *     just unobserved.
  *
  * Pure-JVM driver-side loops on purpose: the bounds are codec facts,
  * not plan facts. The id range tested (0..1998, every third id — the
  * image rows' generator space at sf0.01 scale) must cover what the
  * oracled queries read at correctness SF; the last test asserts that.
  */
class JpegSpec extends SparkSpec {

  private val idEnd = 1998L
  private val ids: Seq[Long] = 0L until idEnd by 3

  private def encode(ids: Seq[Long], q: Float): Seq[Multimodal.JpegPayload] =
    Multimodal.encodeJpegPartition(ids.map(id => (id, id)).iterator, q).toSeq

  private def decode(ps: Seq[Multimodal.JpegPayload]): Seq[Multimodal.JpegDecoded] =
    Multimodal.decodeJpegPartition(ps.iterator).toSeq

  private def decodedPixels(p: Multimodal.JpegPayload): Array[Int] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p.payload))
    val (w, h) = (img.getWidth, img.getHeight)
    Array.tabulate(w * h)(i => img.getRaster.getSample(i % w, i / w, 0))
  }

  /** Source-raster features via the house sampling arithmetic — the
    * reference the decoded features are measured against. */
  private def sourceFeatures(id: Long): (Int, Long, Long) = {
    val (w, h) = Multimodal.rasterDims(id)
    val n = w * h
    val g = Array.tabulate(n)(i => Multimodal.rasterPixel(id, i % w, i / w))
    val samples = Array.tabulate(60)(k => g((k * n / 60) % n))
    val tot = samples.map(_.toLong).sum
    var hash = 0L
    for (k <- 0 until 60) if (samples(k) * 60L > tot) hash |= (1L << k)
    (n, g.map(_.toLong).sum, hash)
  }

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("fixed-quality encode is deterministic: byte-identical payloads") {
    val once = encode(ids.take(200), Multimodal.JpegQuality)
    val twice = encode(ids.take(200), Multimodal.JpegQuality)
    once.zip(twice).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a.payload, b.payload),
        s"id=${a.id}: two encodes of the same raster differ")
    }
  }

  test("SOF marker parse == ImageIO decode == raster arithmetic, every id") {
    encode(ids, Multimodal.JpegQuality).foreach { p =>
      val (w, h, nc, prec, prog) = Multimodal.parseJpegSof(p.payload)
      val (ew, eh) = Multimodal.rasterDims(p.id)
      assert((w, h) === ((ew, eh)), s"id=${p.id}: SOF dims")
      assert(nc === 1 && prec === 8 && !prog,
        s"id=${p.id}: gray baseline contract")
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(p.payload))
      assert((img.getWidth, img.getHeight) === ((ew, eh)), s"id=${p.id}: decode dims")
    }
  }

  test("decode error envelope and aHash stability vs the source raster") {
    val payloads = encode(ids, Multimodal.JpegQuality)
    val decoded = decode(payloads)
    var worstErr = 0.0
    var worstHam = 0
    payloads.zip(decoded).foreach { case (p, d) =>
      val px = decodedPixels(p)
      val (w, h) = Multimodal.rasterDims(p.id)
      val err = px.indices.map(i =>
        math.abs(px(i) - Multimodal.rasterPixel(p.id, i % w, i / w))).sum.toDouble / px.length
      worstErr = math.max(worstErr, err)
      val (_, _, srcHash) = sourceFeatures(p.id)
      worstHam = math.max(worstHam, hamming(d.ahash, srcHash))
    }
    info(f"worst per-image mean abs pixel error: $worstErr%.2f gray levels")
    info(s"worst decoded-vs-source aHash Hamming: $worstHam of 60 bits")
    // pseudorandom rasters are the DCT worst case; natural images land
    // far inside these. Bounds = measured worst + headroom, so a codec
    // or sampling regression trips them while JRE-version jitter won't.
    assert(worstErr <= 16.0, s"mean abs decode error $worstErr out of envelope")
    assert(worstHam <= 12, s"decoded aHash drifted $worstHam bits from source")
  }

  test("cross-quality re-encode still pairs inside a tolerant radius") {
    val hi = decode(encode(ids, 0.95f))
    val lo = decode(encode(ids, 0.75f))
    val worst = hi.zip(lo).map(ab => hamming(ab._1.ahash, ab._2.ahash)).max
    info(s"worst cross-quality (0.95 vs 0.75) aHash Hamming: $worst of 60 bits")
    assert(worst <= 15, s"cross-quality Hamming $worst exceeds the tolerant radius")
  }

  test("separation: no distinct-id pair satisfies the dedup verify") {
    val decoded = decode(encode(ids, Multimodal.JpegQuality))
    var minHam = 60
    var falseMerges = 0
    for {
      i <- decoded.indices
      j <- (i + 1) until decoded.length
    } {
      val (a, b) = (decoded(i), decoded(j))
      val ham = hamming(a.ahash, b.ahash)
      minHam = math.min(minHam, ham)
      if (ham <= 10 && a.n_px == b.n_px && a.sum_gray == b.sum_gray)
        falseMerges += 1
    }
    info(s"min cross-id decoded aHash Hamming over ${decoded.length} ids: $minHam")
    assert(falseMerges === 0,
      s"$falseMerges distinct-id pairs passed the mm_jpeg_dedup verify")
  }

  test("the oracled SFs' image ids stay inside the separation-tested range") {
    // the image rows are the documents' doc_ids (every third), so a corpus
    // regeneration that grows doc_id past the range would oracle ids the
    // separation test above never saw
    Seq("sf0.001", "sf0.01").foreach { sf =>
      val dir = new java.io.File(new java.io.File(sf0001).getParentFile, sf)
      val maxId = spark.read.parquet(s"$dir/documents.parquet")
        .agg(org.apache.spark.sql.functions.max("doc_id")).head().getLong(0)
      assert(maxId < idEnd, s"$sf: max doc_id $maxId reaches the tested range end $idEnd")
    }
  }
}
