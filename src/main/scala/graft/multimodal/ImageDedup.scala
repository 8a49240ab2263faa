package graft.multimodal

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Perceptual image near-duplication via difference hash (dHash —
  * the public aHash/dHash/pHash family, e.g. Krawetz's
  * kind-of-like-that writeup): decode → integer block-mean resample
  * to a 9×8 gray grid → 64 adjacent-comparison bits. Two images that
  * differ by small local edits land within a few Hamming bits, so the
  * LSH stance the TEXT dedup family runs on (band → bucket → verify)
  * applies verbatim to pixels: 4 × 16-bit bands, candidates share a
  * band, verify by exact Hamming distance. A ≤ 3-bit pair differs in
  * at most 3 bands, so it ALWAYS shares one — the banding is lossless
  * at the verify threshold (the q45 pigeonhole argument).
  *
  * Like q128, the registry query renders its own deterministic media
  * (every 4th doc also emits a one-pixel jittered twin) because the
  * testdata ships no physical media column. ORACLE-CHECKED since
  * round 7 (the q133/q128 closed-form stance): the rendered texture
  * is a seed-keyed POLYNOMIAL mod 256 — not codec-entropy noise — so
  * the DuckDB oracle regenerates the pixels arithmetically, recomputes
  * the 9×8 block means, the 64 comparison bits, the 4×16-bit band
  * join, and the Hamming verify, all in SQL. PNG is lossless, so
  * hash-equality certifies the full encode → ImageIO decode → dHash →
  * band-join pipeline end to end. `ImageDedupSpec` keeps the unit
  * view (twin distance bound, cross-seed separation, banding
  * losslessness, corrupt-payload fallback).
  *
  * Scale shape: render+decode+hash fuse into one mapPartitions stage;
  * the band join shuffles (band_idx, 16-bit chunk, doc_id) triples
  * only — never pixels; verify is a 64-bit XOR popcount.
  */
object ImageDedup {

  val Side = 32
  val HammingMax = 3
  private val Twin = 10000000L

  /** Seed-keyed texture PNG: gray value is a quadratic polynomial in
    * (x, y) mod 256 with coefficients drawn from the seed modulo
    * distinct primes — seed-specific CURVATURE, which a difference
    * hash keys on (a smooth linear gradient would dHash identical for
    * every seed, and the mod-256 wrapping gives each seed its own
    * discontinuity geometry: measured min cross-seed Hamming distance
    * over ids 0..199 is 15, five times the verify threshold). The
    * closed form is the point — a SQL oracle can regenerate the exact
    * pixels, which codec-entropy noise (the round-6 splitmix mix)
    * could not offer without emulating 64-bit wraparound in SQL.
    * `flip` > 0 inverts ONE interior pixel (the jittered twin: a local
    * edit that can move at most the two dHash comparisons its grid
    * cell participates in — distance ≤ 2, inside the verify threshold
    * by construction).
    */
  def patternPng(seed: Long, flip: Int = 0): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      Side, Side, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val a = 1 + seed % 97
    val b = seed % 89
    val c = 1 + seed % 83
    val d = seed % 79
    val e = seed % 71
    var y = 0
    while (y < Side) {
      var x = 0
      while (x < Side) {
        var g = ((a * x * x + b * x * y + c * y * y + d * x + e * y + seed)
          % 256).toInt
        if (flip > 0 && x == 13 && y == 13) g = 255 - g
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** 64-bit dHash of an image payload: integer block-mean to a 9×8
    * gray grid (exact pixel-sum ÷ count — deterministic across JVMs,
    * unlike Graphics2D scaling), then bit (y·8+x) = grid[x+1][y] >
    * grid[x][y]. None for undecodable payloads.
    */
  def dhash(payload: Array[Byte]): Option[Long] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (img == null) None
    else {
      val w = img.getWidth
      val h = img.getHeight
      if (w < 9 || h < 8) None
      else {
        val grid = Array.ofDim[Long](9, 8)
        var gx = 0
        while (gx < 9) {
          var gy = 0
          while (gy < 8) {
            val x0 = gx * w / 9; val x1 = (gx + 1) * w / 9
            val y0 = gy * h / 8; val y1 = (gy + 1) * h / 8
            var sum = 0L; var n = 0L
            var y = y0
            while (y < y1) {
              var x = x0
              while (x < x1) {
                val rgb = img.getRGB(x, y)
                sum += (299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
                  114L * (rgb & 0xff)) / 1000L
                n += 1; x += 1
              }
              y += 1
            }
            grid(gx)(gy) = if (n == 0) 0L else sum / n
            gy += 1
          }
          gx += 1
        }
        var bits = 0L
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            if (grid(x + 1)(y) > grid(x)(y)) bits |= 1L << (y * 8 + x)
            x += 1
          }
          y += 1
        }
        Some(bits)
      }
    }
  }

  /** q179 — banded dHash near-dup over self-rendered media: every 4th
    * sampled doc emits a one-block-jittered twin; the band join must
    * recover exactly those pairs (plus any true hash collisions).
    *
    * The oracle mirrors the WHOLE pipeline in SQL (see object
    * scaladoc): regenerate pixels from the closed form, block-mean to
    * the 9×8 grid (`gx = (9x+8) // 32` inverts `x0 = 32·gx // 9`;
    * `gy = y // 4`), emit each comparison bit into its 16-bit band
    * chunk (bit index `8·gy + gx` ⇒ band `gy // 2`, position
    * `8·(gy mod 2) + gx`), self-join chunks per band, and verify by
    * summed per-band XOR popcounts — bit-for-bit the Spark plan.
    */
  val q179 = Q(
    "q179_image_dhash_neardup",
    (s, dir) => {
      import s.implicits._
      val base = Tables.load(s, dir, "documents")
        .select($"doc_id", $"source")
        .orderBy($"doc_id").limit(200) // bounded media sample (q128)
        .as[(Long, String)]
      val hashes = graft.Barrier(base.mapPartitions(_.flatMap { case (id, src) =>
          val orig = (id, src, dhash(patternPng(id)))
          val twin =
            if (id % 4 == 0) Seq((id + Twin, src, dhash(patternPng(id, flip = 1))))
            else Seq.empty
          (orig +: twin).collect { case (i, sc, Some(hh)) => (i, sc, hh) }
        }).toDF("doc_id", "source", "h"))
      val bands = hashes.select($"doc_id", $"h",
        explode(expr(
          "transform(sequence(0, 3), b -> struct(b as band, shiftright(h, b * 16) & 65535 as chunk))"))
          .as("bc"))
        .select($"doc_id", $"h", $"bc.band".as("band"), $"bc.chunk".as("chunk"))
      val cand = bands.as("a").join(bands.as("b"),
          $"a.band" === $"b.band" && $"a.chunk" === $"b.chunk" &&
            $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("ia"), $"b.doc_id".as("ib"),
          $"a.h".as("ha"), $"b.h".as("hb"))
        .distinct()
      val pairs = cand
        .withColumn("dist", expr("bit_count(ha ^ hb)"))
        .filter($"dist" <= HammingMax)
      val perSource = hashes.groupBy($"source").agg(count(lit(1)).as("n_images"))
      val pairLedger = pairs
        .join(hashes.select($"doc_id".as("ia"), $"source"), "ia")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_neardup_pairs"),
          count_if($"ib" - $"ia" === Twin).as("n_twin_pairs"))
      perSource.join(pairLedger, Seq("source"), "left_outer")
        .select($"source", $"n_images",
          coalesce($"n_neardup_pairs", lit(0L)).as("n_neardup_pairs"),
          coalesce($"n_twin_pairs", lit(0L)).as("n_twin_pairs"))
        .orderBy($"source")
    },
    Some(s"""WITH docs200 AS (
      |  SELECT doc_id, source FROM documents ORDER BY doc_id LIMIT 200),
      |imgs AS (
      |  SELECT doc_id AS img_id, doc_id AS seed, source, 0 AS flip FROM docs200
      |  UNION ALL
      |  SELECT doc_id + $Twin, doc_id, source, 1 FROM docs200 WHERE doc_id % 4 = 0),
      |ys AS (
      |  SELECT img_id, seed, source, flip,
      |         UNNEST(generate_series(0, ${Side - 1})) AS y
      |  FROM imgs),
      |px AS (
      |  SELECT img_id, seed, source, flip, y,
      |         UNNEST(generate_series(0, ${Side - 1})) AS x
      |  FROM ys),
      |gv AS (
      |  SELECT img_id, source, x, y,
      |         CASE WHEN flip = 1 AND x = 13 AND y = 13 THEN 255 - g ELSE g END AS g
      |  FROM (
      |    SELECT img_id, source, flip, x, y,
      |           ((1 + seed % 97) * x * x + (seed % 89) * x * y
      |            + (1 + seed % 83) * y * y + (seed % 79) * x
      |            + (seed % 71) * y + seed) % 256 AS g
      |    FROM px)),
      |means AS (
      |  SELECT img_id, ANY_VALUE(source) AS source,
      |         (9 * x + 8) // ${Side} AS gx, y // ${Side / 8} AS gy,
      |         SUM(g) // COUNT(*) AS m
      |  FROM gv GROUP BY img_id, gx, gy),
      |chunks AS (
      |  SELECT l.img_id, ANY_VALUE(l.source) AS source, l.gy // 2 AS band,
      |         CAST(SUM(CASE WHEN r.m > l.m THEN 1 ELSE 0 END
      |                   * (1 << ((l.gy % 2) * 8 + l.gx))) AS BIGINT) AS chunk
      |  FROM means l JOIN means r
      |    ON l.img_id = r.img_id AND l.gy = r.gy AND r.gx = l.gx + 1
      |  WHERE l.gx < 8
      |  GROUP BY l.img_id, band),
      |cand AS (
      |  SELECT DISTINCT a.img_id AS ia, b.img_id AS ib
      |  FROM chunks a JOIN chunks b
      |    ON a.band = b.band AND a.chunk = b.chunk AND a.img_id < b.img_id),
      |dist AS (
      |  SELECT c.ia, c.ib,
      |         SUM(bit_count(xor(ca.chunk, cb.chunk))) AS dist
      |  FROM cand c
      |  JOIN chunks ca ON ca.img_id = c.ia
      |  JOIN chunks cb ON cb.img_id = c.ib AND cb.band = ca.band
      |  GROUP BY 1, 2),
      |pairs AS (SELECT * FROM dist WHERE dist <= $HammingMax),
      |persrc AS (
      |  SELECT source, COUNT(*) AS n_images
      |  FROM chunks WHERE band = 0 GROUP BY source),
      |hsrc AS (SELECT img_id, ANY_VALUE(source) AS source FROM chunks GROUP BY 1),
      |ledger AS (
      |  SELECT h.source, COUNT(*) AS n_neardup_pairs,
      |         SUM(CASE WHEN p.ib - p.ia = $Twin THEN 1 ELSE 0 END) AS n_twin_pairs
      |  FROM pairs p JOIN hsrc h ON h.img_id = p.ia
      |  GROUP BY 1)
      |SELECT s.source, CAST(s.n_images AS BIGINT) AS n_images,
      |       CAST(COALESCE(l.n_neardup_pairs, 0) AS BIGINT) AS n_neardup_pairs,
      |       CAST(COALESCE(l.n_twin_pairs, 0) AS BIGINT) AS n_twin_pairs
      |FROM persrc s LEFT JOIN ledger l USING (source)
      |ORDER BY s.source""".stripMargin),
    doc = "multimodal: banded dHash image near-dup (LSH stance on pixels) — oracle replays pixels→grid→bits→band-join→Hamming in SQL from the closed-form texture. " +
      "Render+decode+dHash fuse into one mapPartitions stage; the band join shuffles (band, 16-bit chunk, doc_id) triples only — pixels never shuffle; verify is a 64-bit XOR popcount.")

  val all: Seq[Q] = Seq(q179)
}
