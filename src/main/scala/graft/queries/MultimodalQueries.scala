package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Multimodal

/** Multimodal-column queries: binary payload metadata (oracled — byte
  * length and content hash are portable SQL) and the stubbed decode
  * pipeline (rows-only; the decode is container-stubbed, the plumbing is
  * real and spec-tested).
  */
object MultimodalQueries {

  private def docs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.load(s, d, "documents")

  /** q154's bounded document subset (q153's convention): the two-day
    * image loop replays the full pixel pipeline for batch AND store
    * sides in the oracle — unbounded, the sf0.1 replay exhausts
    * DuckDB's memory; bounded, the loop's cost stays flat as SF grows
    * while still exercising every decision path. */
  private val imageLoopMaxDocId = 500L

  // ---- generated oracle SQL for the perceptual-hash queries (m51/m52):
  // the pixel arithmetic is emitted from the SAME constants
  // Multimodal.texturedPixelValue uses — one definition, two engines,
  // no drift (CLAUDE.md rule 12; the DedupQueries.simhashFpCtes pattern).
  // The t → u → v → bump → %256 chain below (lumCtesFor) mirrors
  // texturedPixelValue line for line, as chained CTE columns.

  /** MSB-first row-major fold of 64 bits, mod 2^64 (HUGEINT). */
  private def foldSql(bit: String, order: String = "j, i"): String =
    s"""list_reduce(list_prepend(CAST(0 AS HUGEINT),
       |    list(CAST($bit AS HUGEINT) ORDER BY $order)),
       |  (acc, x) -> (acc * 2 + x) % CAST('18446744073709551616' AS HUGEINT))""".stripMargin

  /** Point-grain luminance chain for one sample grid: the textured-
    * pixel polynomial evaluated ONCE per (doc, sample point, channel)
    * through chained CTEs (t → u → v as columns), then luminance (the
    * 3-channel sum, original and variant — t/u/v are SHARED because the
    * variant bump lands after v) grouped to point grain. The first cut
    * inlined the whole t→u→v textual expansion into every cell
    * comparison (~12 evaluations of t per bit); this chain plus the
    * adjacent-point self-join for bits cut the image family from 24.2 s
    * of the 69 s sf0.01 DuckDB gate (VERDICT r10 directive #6).
    * r14: the grid now comes from CROSS JOINs against range() table
    * functions — the previous chained `unnest(range(...))` projections
    * were row-at-a-time in DuckDB and dominated the replay (m64's
    * 32×32 grid alone: 7.8 s chained vs 0.2 s cross-join, identical
    * checksums).
    * Emits `lum$tag(doc_id, $ic, $jc, g_o, g_v)` over the sample points
    * x = $ic·w DIV nx ($ic ∈ [0, nx)), y = $jc·h DIV ny ($jc ∈ [0, ny))
    * — the same points the cell comparisons used textually (cell i
    * compares points i and i+1, so an n-cell row has n+1 points). */
  private def lumCtesFor(tag: String, ic: String, jc: String,
      nx: Int, ny: Int): String =
    s"""p$tag AS (SELECT d.doc_id, gi.range AS $ic, gj.range AS $jc,
       |            (gi.range*d.w)//$nx AS x, (gj.range*d.h)//$ny AS y
       |          FROM dims d, range(0, $nx) gi, range(0, $ny) gj),
       |c$tag AS (SELECT doc_id, $ic, $jc, x, y, gc.range AS c
       |          FROM p$tag, range(0, 3) gc),
       |t$tag AS (SELECT doc_id, $ic, $jc, x, y,
       |            ((doc_id*2654435761) % 65536 + 131*x + 197*y + 31*x*y
       |             + 101*c) AS t
       |          FROM c$tag),
       |u$tag AS (SELECT doc_id, $ic, $jc, x, y, (t*t + 3*t) % 65521 AS u
       |          FROM t$tag),
       |v$tag AS (SELECT doc_id, $ic, $jc, x, y, (u*u + 7*u) % 65521 AS v
       |          FROM u$tag),
       |lum$tag AS MATERIALIZED (
       |  SELECT doc_id, $ic, $jc, sum(v % 256) AS g_o,
       |    sum((v + CASE WHEN (x*7 + y*3) % 23 = 0 THEN 64 ELSE 0 END) % 256)
       |      AS g_v
       |  FROM v$tag GROUP BY doc_id, $ic, $jc)""".stripMargin

  /** dims + the 8×8 dHash grid shared by m51/m52/m54/m55/q154:
    * `bits(doc_id, j, i, bit_o, bit_v)` — bit = right sample brighter
    * than left, via the adjacent-point self-join over `lum8`.
    * Parameterized on the document set so q154 can run its bounded
    * subset (the pixel replay over the FULL sf0.1 corpus twice — batch
    * and store sides — blew DuckDB's memory; the bounded loop is the
    * q153 convention). */
  private def gridCtesFor(base: String): String =
    s"""dims AS (
      |  SELECT doc_id, 18 + (doc_id % 14) AS w, 18 + ((doc_id // 14) % 14) AS h
      |  FROM $base),
      |${lumCtesFor("8", "i", "j", 9, 8)},
      |bits AS MATERIALIZED (
      |  SELECT a.doc_id, a.j, a.i,
      |    CASE WHEN b.g_o > a.g_o THEN 1 ELSE 0 END AS bit_o,
      |    CASE WHEN b.g_v > a.g_v THEN 1 ELSE 0 END AS bit_v
      |  FROM lum8 a JOIN lum8 b
      |    ON b.doc_id = a.doc_id AND b.j = a.j AND b.i = a.i + 1
      |  WHERE a.i < 8)""".stripMargin

  private val gridCtes = gridCtesFor("documents")

  private val reSign =
    """CASE WHEN hu >= CAST('9223372036854775808' AS HUGEINT)
      |     THEN hu - CAST('18446744073709551616' AS HUGEINT) ELSE hu END""".stripMargin

  /** 16-bit band divisors (2^0, 2^16, 2^32, 2^48) as HUGEINT literals. */
  private val bandDiv = Seq("CAST(1 AS HUGEINT)", "CAST(65536 AS HUGEINT)",
    "CAST(4294967296 AS HUGEINT)", "CAST(281474976710656 AS HUGEINT)")

  // each bit_count term CAST to BIGINT before summing: DuckDB's
  // bit_count returns TINYINT and a TINYINT sum overflows at 127 —
  // data-dependent, first tripped by a 129-distance pair at sf0.1
  private val hammingSql = bandDiv.map(d =>
    s"CAST(bit_count(xor(CAST((ha // $d) % 65536 AS BIGINT), CAST((hb // $d) % 65536 AS BIGINT))) AS BIGINT)")
    .mkString(" + ")

  private val bandValSql = "CASE band " + bandDiv.zipWithIndex.map { case (d, b) =>
    s"WHEN $b THEN CAST((hu // $d) % 65536 AS BIGINT)" }.mkString(" ") + " END"

  private val m51Sql =
    s"""WITH $gridCtes,
       |fp AS (SELECT doc_id, ${foldSql("bit_o")} AS hu FROM bits GROUP BY doc_id)
       |SELECT d.doc_id AS media_id,
       |  CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
       |  CAST($reSign AS BIGINT) AS dhash
       |FROM fp JOIN dims d USING (doc_id) ORDER BY media_id""".stripMargin

  /** m64's oracle: the DCT pHash replayed in pure integer SQL — the
    * 32×32 luminance grid through the shared point-grain chain, the
    * separable DCT through the SAME Q14 basis the operator uses
    * (`Multimodal.PhashCos` rendered as a 256-row literal CTE, rules
    * 12/14), the integer mean threshold, and the 63-bit AC fold (stays
    * positive — no re-sign). */
  private lazy val m64Sql = {
    val ctabRows = (0 until 8).flatMap(k => (0 until 32).map(n =>
      s"($k, $n, ${graft.operators.Multimodal.PhashCos(k)(n)})"))
      .mkString(", ")
    s"""WITH dims AS (
       |  SELECT doc_id, 18 + (doc_id % 14) AS w, 18 + ((doc_id // 14) % 14) AS h
       |  FROM documents),
       |${lumCtesFor("32", "i3", "j3", 32, 32)},
       |ctab(k, n, c) AS MATERIALIZED (VALUES $ctabRows),
       |rowp AS MATERIALIZED (
       |  SELECT l.doc_id, t.k, l.j3, sum(t.c * l.g_o) AS r
       |  FROM lum32 l JOIN ctab t ON t.n = l.i3
       |  GROUP BY l.doc_id, t.k, l.j3),
       |colp AS MATERIALIZED (
       |  SELECT p.doc_id, p.k, t.k AS ll, sum(t.c * p.r) AS f
       |  FROM rowp p JOIN ctab t ON t.n = p.j3
       |  GROUP BY p.doc_id, p.k, t.k),
       |mean AS (
       |  SELECT doc_id,
       |    (sum(f) - max(CASE WHEN k = 0 AND ll = 0 THEN f END)) // 63 AS m
       |  FROM colp GROUP BY doc_id),
       |bits64 AS (
       |  SELECT c.doc_id, c.k, c.ll,
       |    CASE WHEN c.f > mean.m THEN 1 ELSE 0 END AS bit
       |  FROM colp c JOIN mean USING (doc_id)
       |  WHERE NOT (c.k = 0 AND c.ll = 0)),
       |fp64 AS (SELECT doc_id, ${foldSql("bit", "k, ll")} AS hu
       |         FROM bits64 GROUP BY doc_id)
       |SELECT d.doc_id AS media_id,
       |  CAST(d.w AS BIGINT) AS width, CAST(d.h AS BIGINT) AS height,
       |  CAST(hu AS BIGINT) AS phash
       |FROM fp64 JOIN dims d USING (doc_id) ORDER BY media_id""".stripMargin
  }

  /** Σ over the four 64-bit words × four 16-bit chunks of
    * popcount(xor) — the 256-bit Hamming distance between unsigned
    * word columns a0..a3 / b0..b3. */
  private val wideHammingSql = (0 until 4).flatMap(k => bandDiv.map(d =>
    s"CAST(bit_count(xor(CAST((a$k // $d) % 65536 AS BIGINT), " +
      s"CAST((b$k // $d) % 65536 AS BIGINT))) AS BIGINT)")).mkString("\n  + ")

  /** Shared CTE prefix for the two-resolution queries (m54/m55): both
    * fingerprints of every original and variant image — `fpo`/`fpv`/
    * `fp` (64-bit hu per media_id) and `wflat` (the four wide words).
    * The wide 16×16-cell grid (17 sample columns) gets its own
    * point-grain luminance chain (`lum17`), same shape as the 8×8. */
  private def twoResCtesFor(base: String): String = {
    def words(tag: String, off: String) =
      s"""wwords_$tag AS (
         |  SELECT doc_id$off AS media_id, j2 // 4 AS k,
         |    ${foldSql(s"wbit_$tag", "j2, i2")} AS wu
         |  FROM wbits GROUP BY doc_id, j2 // 4)""".stripMargin
    val flat = (0 until 4).map(k =>
      s"max(CASE WHEN k = $k THEN wu END) AS wu$k").mkString(", ")
    s"""${gridCtesFor(base)},
       |fpo AS MATERIALIZED (SELECT doc_id AS media_id, ${foldSql("bit_o")} AS hu
       |        FROM bits GROUP BY doc_id),
       |fpv AS MATERIALIZED (SELECT doc_id + ${Multimodal.VariantOffset} AS media_id,
       |        ${foldSql("bit_v")} AS hu FROM bits GROUP BY doc_id),
       |fp AS (SELECT * FROM fpo UNION ALL SELECT * FROM fpv),
       |${lumCtesFor("17", "i2", "j2", 17, 16)},
       |wbits AS MATERIALIZED (
       |  SELECT a.doc_id, a.j2, a.i2,
       |    CASE WHEN b.g_o > a.g_o THEN 1 ELSE 0 END AS wbit_o,
       |    CASE WHEN b.g_v > a.g_v THEN 1 ELSE 0 END AS wbit_v
       |  FROM lum17 a JOIN lum17 b
       |    ON b.doc_id = a.doc_id AND b.j2 = a.j2 AND b.i2 = a.i2 + 1
       |  WHERE a.i2 < 16),
       |${words("o", "")},
       |${words("v", s" + ${Multimodal.VariantOffset}")},
       |ww AS (SELECT * FROM wwords_o UNION ALL SELECT * FROM wwords_v),
       |wflat AS MATERIALIZED (SELECT media_id, $flat FROM ww GROUP BY media_id)""".stripMargin
  }

  private lazy val twoResCtes = twoResCtesFor("documents")

  private val m54Sql = {
    s"""WITH $twoResCtes,
       |bands AS (SELECT media_id, hu, unnest([0,1,2,3]) AS band FROM fp),
       |bv AS (SELECT media_id, hu, band, $bandValSql AS band_val FROM bands),
       |bkeep AS (SELECT band, band_val FROM bv GROUP BY band, band_val
       |          HAVING count(*) <= ${graft.operators.Dedup.defaultMaxBucket}),
       |bf AS (SELECT bv.* FROM bv JOIN bkeep USING (band, band_val)),
       |cand AS (
       |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
       |         a.hu AS ha, b.hu AS hb
       |  FROM bf a JOIN bf b
       |    ON a.band = b.band AND a.band_val = b.band_val
       |   AND a.media_id < b.media_id),
       |wj AS (
       |  SELECT cand.id_a, cand.id_b, cand.ha, cand.hb,
       |         ${(0 until 4).map(k => s"fa.wu$k AS a$k").mkString(", ")},
       |         ${(0 until 4).map(k => s"fb.wu$k AS b$k").mkString(", ")}
       |  FROM cand
       |  JOIN wflat fa ON fa.media_id = cand.id_a
       |  JOIN wflat fb ON fb.media_id = cand.id_b)
       |SELECT id_a, id_b, CAST($hammingSql AS BIGINT) AS hamming,
       |       CAST($wideHammingSql AS BIGINT) AS wide_hamming
       |FROM wj
       |WHERE $hammingSql <= 12 AND ($wideHammingSql) <= 48
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** m55: batch-vs-store decisions. Store = originals of doc_id % 10
    * != 9 (store-side overfull buckets dropped, replaying capBuckets);
    * batch = variants of doc_id % 10 == 1 (planted corpus near-dups)
    * ∪ originals of doc_id % 10 == 9 (novel images). */
  private val m55Sql = {
    val off = Multimodal.VariantOffset
    s"""WITH $twoResCtes,
       |store AS (SELECT media_id, hu FROM fpo WHERE media_id % 10 != 9),
       |batch AS (SELECT media_id, hu FROM fpv WHERE (media_id - $off) % 10 = 1
       |          UNION ALL
       |          SELECT media_id, hu FROM fpo WHERE media_id % 10 = 9),
       |sbands AS (SELECT media_id, hu, unnest([0,1,2,3]) AS band FROM store),
       |sbv AS (SELECT media_id, hu, band, $bandValSql AS band_val FROM sbands),
       |skeep AS (SELECT band, band_val FROM sbv GROUP BY band, band_val
       |          HAVING count(*) <= ${graft.operators.Dedup.defaultMaxBucket}),
       |sb AS (SELECT sbv.* FROM sbv JOIN skeep USING (band, band_val)),
       |bbands AS (SELECT media_id, hu, unnest([0,1,2,3]) AS band FROM batch),
       |bbv AS (SELECT media_id, hu, band, $bandValSql AS band_val FROM bbands),
       |cand AS (
       |  SELECT DISTINCT b.media_id AS bid, s.media_id AS sid,
       |         b.hu AS ha, s.hu AS hb
       |  FROM bbv b JOIN sb s
       |    ON b.band = s.band AND b.band_val = s.band_val),
       |wj AS (
       |  SELECT cand.bid, cand.ha, cand.hb,
       |         ${(0 until 4).map(k => s"fa.wu$k AS a$k").mkString(", ")},
       |         ${(0 until 4).map(k => s"fb.wu$k AS b$k").mkString(", ")}
       |  FROM cand
       |  JOIN wflat fa ON fa.media_id = cand.bid
       |  JOIN wflat fb ON fb.media_id = cand.sid),
       |matchd AS (SELECT DISTINCT bid FROM wj
       |           WHERE $hammingSql <= 12 AND ($wideHammingSql) <= 48)
       |SELECT b.media_id, m.bid IS NULL AS keep,
       |       CASE WHEN m.bid IS NULL THEN 'unique' ELSE 'corpus_dup' END AS reason
       |FROM batch b LEFT JOIN matchd m ON m.bid = b.media_id
       |ORDER BY media_id""".stripMargin
  }

  /** CTE chain `<p>_…` ending in `<p>_match(bid)`: batch images (CTE
    * `batch`) with a verified store match (CTE `store`) — banding with
    * the store-side cap, then both Hamming cuts. */
  private def matchCtes(p: String, batch: String, store: String): String =
    s"""${p}_sb AS (SELECT media_id, hu, unnest([0,1,2,3]) AS band FROM $store),
       |${p}_sbv AS (SELECT media_id, hu, band, $bandValSql AS band_val FROM ${p}_sb),
       |${p}_skeep AS (SELECT band, band_val FROM ${p}_sbv GROUP BY band, band_val
       |          HAVING count(*) <= ${graft.operators.Dedup.defaultMaxBucket}),
       |${p}_sf AS (SELECT t.* FROM ${p}_sbv t JOIN ${p}_skeep USING (band, band_val)),
       |${p}_bb AS (SELECT media_id, hu, unnest([0,1,2,3]) AS band FROM $batch),
       |${p}_bbv AS (SELECT media_id, hu, band, $bandValSql AS band_val FROM ${p}_bb),
       |${p}_cand AS (
       |  SELECT DISTINCT b.media_id AS bid, s.media_id AS sid,
       |         b.hu AS ha, s.hu AS hb
       |  FROM ${p}_bbv b JOIN ${p}_sf s
       |    ON b.band = s.band AND b.band_val = s.band_val),
       |${p}_wj AS (
       |  SELECT c.bid, c.ha, c.hb,
       |         ${(0 until 4).map(k => s"fa.wu$k AS a$k").mkString(", ")},
       |         ${(0 until 4).map(k => s"fb.wu$k AS b$k").mkString(", ")}
       |  FROM ${p}_cand c
       |  JOIN wflat fa ON fa.media_id = c.bid
       |  JOIN wflat fb ON fb.media_id = c.sid),
       |${p}_match AS (SELECT DISTINCT bid FROM ${p}_wj
       |           WHERE $hammingSql <= 12 AND ($wideHammingSql) <= 48)""".stripMargin

  /** q154: the two-day image store loop. Day-0 batch = variants of
    * doc_id % 10 == 1 (dups of the initial store) ∪ originals of
    * % 10 == 8 (novel); day-1 batch = variants of % 10 == 8 (dups of
    * day-0's APPENDED keepers — never in the initial store) ∪
    * originals of % 10 == 9 (novel). Day-1's store = store0 plus ALL
    * day-0 keepers (including recall-miss variants — exactly what the
    * stream appends). */
  private val q154Sql = {
    val off = Multimodal.VariantOffset
    s"""WITH ${twoResCtesFor(s"(SELECT * FROM documents WHERE doc_id < $imageLoopMaxDocId)")},
       |store0 AS (SELECT media_id, hu FROM fpo WHERE media_id % 10 NOT IN (8, 9)),
       |b0 AS (SELECT media_id, hu FROM fpv WHERE (media_id - $off) % 10 = 1
       |       UNION ALL SELECT media_id, hu FROM fpo WHERE media_id % 10 = 8),
       |b1 AS (SELECT media_id, hu FROM fpv WHERE (media_id - $off) % 10 = 8
       |       UNION ALL SELECT media_id, hu FROM fpo WHERE media_id % 10 = 9),
       |${matchCtes("m0", "b0", "store0")},
       |d0 AS (SELECT CAST(0 AS BIGINT) AS batch_id, b.media_id,
       |       m.bid IS NULL AS keep,
       |       CASE WHEN m.bid IS NULL THEN 'unique' ELSE 'corpus_dup' END AS reason
       |       FROM b0 b LEFT JOIN m0_match m ON m.bid = b.media_id),
       |kept0 AS (SELECT media_id, hu FROM b0
       |          WHERE media_id IN (SELECT media_id FROM d0 WHERE keep)),
       |store1 AS (SELECT * FROM store0 UNION ALL SELECT * FROM kept0),
       |${matchCtes("m1", "b1", "store1")},
       |d1 AS (SELECT CAST(1 AS BIGINT) AS batch_id, b.media_id,
       |       m.bid IS NULL AS keep,
       |       CASE WHEN m.bid IS NULL THEN 'unique' ELSE 'corpus_dup' END AS reason
       |       FROM b1 b LEFT JOIN m1_match m ON m.bid = b.media_id)
       |SELECT batch_id, media_id, keep, reason
       |FROM (SELECT * FROM d0 UNION ALL SELECT * FROM d1)
       |ORDER BY batch_id, media_id""".stripMargin
  }

  /** DuckDB expression for |trackSample(doc_id, i, variant)| — emitted
    * from the same constants as Multimodal.trackSample (rule 12). */
  private def trackAbsSql(variant: Boolean): String = {
    val shift =
      if (variant) " + CASE WHEN (i // 16) % 21 = 0 THEN 12345 ELSE 0 END"
      else ""
    val t = s"((doc_id*2654435761) % 65536 + 131*i$shift)"
    val u = s"(($t)*($t) + 3*($t)) % 65521"
    val v = s"((($u))*(($u)) + 7*(($u))) % 65521"
    s"abs((($v)) % 65536 - 32768)"
  }

  private val m56Sql = {
    val off = Multimodal.VariantOffset
    s"""WITH ix AS (SELECT doc_id, unnest(range(0, ${Multimodal.TrackSamples})) AS i
       |            FROM documents),
       |en AS (SELECT doc_id, i // 16 AS f,
       |         sum(${trackAbsSql(variant = false)}) AS e_o,
       |         sum(${trackAbsSql(variant = true)}) AS e_v
       |       FROM ix GROUP BY doc_id, f),
       |bits AS (SELECT a.doc_id, a.f,
       |           CASE WHEN b.e_o > a.e_o THEN 1 ELSE 0 END AS bit_o,
       |           CASE WHEN b.e_v > a.e_v THEN 1 ELSE 0 END AS bit_v
       |         FROM en a JOIN en b ON a.doc_id = b.doc_id AND b.f = a.f + 1),
       |fpo AS (SELECT doc_id AS media_id, ${foldSql("bit_o", "f")} AS hu
       |        FROM bits GROUP BY doc_id),
       |fpv AS (SELECT doc_id + $off AS media_id, ${foldSql("bit_v", "f")} AS hu
       |        FROM bits GROUP BY doc_id),
       |fp AS (SELECT * FROM fpo UNION ALL SELECT * FROM fpv),
       |bands AS (SELECT media_id, hu, unnest([0,1,2,3]) AS band FROM fp),
       |bv AS (SELECT media_id, hu, band, $bandValSql AS band_val FROM bands),
       |bkeep AS (SELECT band, band_val FROM bv GROUP BY band, band_val
       |          HAVING count(*) <= ${graft.operators.Dedup.defaultMaxBucket}),
       |bf AS (SELECT bv.* FROM bv JOIN bkeep USING (band, band_val)),
       |cand AS (
       |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
       |         a.hu AS ha, b.hu AS hb
       |  FROM bf a JOIN bf b
       |    ON a.band = b.band AND a.band_val = b.band_val
       |   AND a.media_id < b.media_id)
       |SELECT id_a, id_b, CAST($hammingSql AS BIGINT) AS hamming
       |FROM cand WHERE $hammingSql <= 12 ORDER BY id_a, id_b""".stripMargin
  }

  private val m52Sql =
    s"""WITH $gridCtes,
       |fpo AS MATERIALIZED (SELECT doc_id AS media_id, ${foldSql("bit_o")} AS hu
       |        FROM bits GROUP BY doc_id),
       |fpv AS MATERIALIZED (SELECT doc_id + ${Multimodal.VariantOffset} AS media_id,
       |        ${foldSql("bit_v")} AS hu FROM bits GROUP BY doc_id),
       |fp AS (SELECT * FROM fpo UNION ALL SELECT * FROM fpv),
       |bands AS (SELECT media_id, hu, unnest([0,1,2,3]) AS band FROM fp),
       |bv AS (SELECT media_id, hu, band, $bandValSql AS band_val FROM bands),
       |bkeep AS (SELECT band, band_val FROM bv GROUP BY band, band_val
       |          HAVING count(*) <= ${graft.operators.Dedup.defaultMaxBucket}),
       |bf AS (SELECT bv.* FROM bv JOIN bkeep USING (band, band_val)),
       |cand AS (
       |  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
       |         a.hu AS ha, b.hu AS hb
       |  FROM bf a JOIN bf b
       |    ON a.band = b.band AND a.band_val = b.band_val
       |   AND a.media_id < b.media_id)
       |SELECT id_a, id_b, CAST($hammingSql AS BIGINT) AS hamming
       |FROM cand WHERE $hammingSql <= 12 ORDER BY id_a, id_b""".stripMargin

  /** m60: frame checksums replayed in integer SQL for originals
    * (frames [0, nf)) and trimmed variants (frames [1, nf), media_id
    * offset), DISTINCT per video, then the exact df-capped Jaccard
    * join — the same arithmetic the decoded GIFs must reproduce. */
  private lazy val m60Sql = {
    val off = Multimodal.VariantOffset
    s"""WITH dims AS MATERIALIZED (
       |  SELECT doc_id, 8 + (doc_id % 12) AS w, 8 + ((doc_id // 12) % 12) AS h,
       |         2 + (doc_id % 7) AS nf
       |  FROM documents),
       |fr AS (
       |  SELECT doc_id, doc_id AS media_id, w, h, unnest(range(0, nf)) AS f
       |  FROM dims
       |  UNION ALL
       |  SELECT doc_id, doc_id + $off AS media_id, w, h,
       |         unnest(range(1, nf)) AS f
       |  FROM dims),
       |xs AS (SELECT doc_id, media_id, w, h, f, unnest(range(0, w)) AS x FROM fr),
       |ys AS (SELECT doc_id, media_id, w, h, f, x, unnest(range(0, h)) AS y FROM xs),
       |ck AS (
       |  SELECT media_id, f,
       |    SUM(((doc_id*31 + f*17 + x*7 + y*13) % 256) * (1 + x + w*y)) AS fp
       |  FROM ys GROUP BY media_id, f),
       |fps AS MATERIALIZED (SELECT DISTINCT media_id, fp FROM ck),
       |sizes AS MATERIALIZED (
       |       SELECT media_id, count(*) AS sz FROM fps GROUP BY media_id),
       |keep AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 20),
       |fil AS MATERIALIZED (SELECT fps.media_id, fps.fp
       |                     FROM fps JOIN keep USING (fp)),
       |inter AS (
       |  SELECT a.media_id AS id_a, b.media_id AS id_b, count(*) AS inter
       |  FROM fil a JOIN fil b ON a.fp = b.fp AND a.media_id < b.media_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, CAST(inter AS BIGINT) AS n_inter,
       |  CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE)
       |    AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.media_id = id_a
       |JOIN sizes sb ON sb.media_id = id_b
       |WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE)
       |      >= 0.5
       |ORDER BY id_a, id_b""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // binary-column metadata: byte length + sha256 of the payload
    Q("m44_media_meta", Some(
      """SELECT doc_id AS media_id,
        |       octet_length(CAST(text AS BLOB)) AS n_bytes,
        |       sha256(text) AS payload_sha
        |FROM documents ORDER BY media_id""".stripMargin),
      (s, d) => docs(s, d).select(
        col("doc_id").as("media_id"),
        octet_length(col("text").cast("binary")).as("n_bytes"),
        sha2(col("text"), 256).as("payload_sha"))
        .orderBy(col("media_id"))),

    // partition-wise stub decode → feature rows (mapPartitions plumbing).
    // Oracled: the stub decoder is a deterministic base-31 byte hash, so
    // DuckDB replays it in HUGEINT (wrap mod 2^64); height and n_frames
    // need the SIGNED arithmetic-shift semantics of the JVM (>> then
    // floorMod), reconstructed via re-sign + floor-division + floorMod.
    // ASCII corpus ⇒ ord(char) == payload byte (asserted, see t35).
    Q("m45_media_features", Some(
      """WITH h AS (
        |  SELECT doc_id AS media_id,
        |    (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
        |    length(text) AS n_bytes,
        |    list_reduce(
        |      list_prepend(CAST(0 AS HUGEINT),
        |        list_transform(range(1, length(text)+1),
        |                       i -> CAST(ord(text[i]) AS HUGEINT))),
        |      (acc, x) -> (acc * 31 + x) % CAST('18446744073709551616' AS HUGEINT)) AS hu
        |  FROM documents),
        |s AS (
        |  SELECT *, CASE WHEN hu >= CAST('9223372036854775808' AS HUGEINT)
        |                 THEN hu - CAST('18446744073709551616' AS HUGEINT)
        |                 ELSE hu END AS hs
        |  FROM h)
        |SELECT media_id, kind, CAST(n_bytes AS BIGINT) AS n_bytes,
        |  CAST(64 + hu % 512 AS BIGINT) AS width,
        |  CAST(64 + (hu // 65536) % 512 AS BIGINT) AS height,
        |  CAST(CASE WHEN kind = 'video'
        |    THEN 1 + ((((hs - ((hs % 4294967296 + 4294967296) % 4294967296)) // 4294967296) % 30 + 30) % 30)
        |    ELSE 1 END AS BIGINT) AS n_frames
        |FROM s ORDER BY media_id""".stripMargin),
      (s, d) => Multimodal.extractFeatures(s,
        Multimodal.mediaTable(docs(s, d)))
        .toDF()
        .select(col("media_id"), col("kind"),
          col("n_bytes").cast("bigint").as("n_bytes"),
          col("width").cast("bigint").as("width"),
          col("height").cast("bigint").as("height"),
          col("n_frames").cast("bigint").as("n_frames"))
        .orderBy(col("media_id"))),

    // frame sampling: every 4th frame of each video payload as its own
    // row (row-amplifying partition-wise decode). Same HUGEINT replay as
    // m45 for the frame count; the per-frame fingerprint re-signs
    // (hu · 1000003 + idx) mod 2^64.
    Q("m46_frame_sample", Some(
      """WITH h AS (
        |  SELECT doc_id AS media_id,
        |    (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
        |    list_reduce(
        |      list_prepend(CAST(0 AS HUGEINT),
        |        list_transform(range(1, length(text)+1),
        |                       i -> CAST(ord(text[i]) AS HUGEINT))),
        |      (acc, x) -> (acc * 31 + x) % CAST('18446744073709551616' AS HUGEINT)) AS hu
        |  FROM documents),
        |s AS (
        |  SELECT *, CASE WHEN hu >= CAST('9223372036854775808' AS HUGEINT)
        |                 THEN hu - CAST('18446744073709551616' AS HUGEINT)
        |                 ELSE hu END AS hs
        |  FROM h),
        |v AS (
        |  SELECT media_id, hu,
        |    CAST(1 + ((((hs - ((hs % 4294967296 + 4294967296) % 4294967296)) // 4294967296) % 30 + 30) % 30) AS BIGINT) AS n_frames
        |  FROM s WHERE kind = 'video'),
        |f AS (SELECT media_id, hu, unnest(range(0, n_frames, 4)) AS frame_idx FROM v),
        |fp AS (SELECT media_id, frame_idx,
        |         (hu * 1000003 + frame_idx) % CAST('18446744073709551616' AS HUGEINT) AS u
        |       FROM f)
        |SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(CASE WHEN u >= CAST('9223372036854775808' AS HUGEINT)
        |            THEN u - CAST('18446744073709551616' AS HUGEINT)
        |            ELSE u END AS BIGINT) AS frame_fp
        |FROM fp ORDER BY media_id, frame_idx""".stripMargin),
      (s, d) => Multimodal.sampleFrames(s, Multimodal.mediaTable(docs(s, d)))
        .toDF().orderBy(col("media_id"), col("frame_idx"))),

    // REAL-codec roundtrip: per doc, encode the deterministic pixel
    // pattern to actual PNG bytes and decode them back, both via
    // javax.imageio (genuine codec on genuine bytes, partition-wise).
    // PNG is lossless, so the decoded position-weighted checksum must
    // equal the arithmetic checksum of the pattern — which DuckDB
    // computes independently in pure integer SQL (staged unnests: the
    // range table function can't take lateral column args). A decode
    // that returned wrong pixels, dims, or channel order hash-fails.
    Q("m47_image_decode", Some(
      """WITH dims AS (
        |  SELECT doc_id, 8 + (doc_id % 16) AS w, 8 + ((doc_id // 16) % 16) AS h
        |  FROM documents),
        |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims),
        |ys AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
        |px AS (SELECT doc_id, w, h, x, y, unnest([0, 1, 2]) AS c FROM ys)
        |SELECT doc_id AS media_id,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(SUM(((doc_id*31 + x*7 + y*13 + c*101) % 256)
        |           * (1 + x + w*y + w*h*c)) AS BIGINT) AS checksum
        |FROM px GROUP BY doc_id, w, h ORDER BY media_id""".stripMargin),
      (s, d) => Multimodal.imageDecodeRoundtrip(s, docs(s, d))
        .orderBy(col("media_id"))),

    // real-codec RESIZE roundtrip (m59): decode → exact nearest-
    // neighbor 16×16 resize (src_x = i·w // 16, the only kernel an
    // external oracle replays bit-for-bit) → re-encode → decode →
    // position-weighted checksum. The oracle computes the resized
    // pattern arithmetic with no codec on its side.
    Q("m59_image_resize", Some(
      """WITH dims AS (
        |  SELECT doc_id, 8 + (doc_id % 16) AS w, 8 + ((doc_id // 16) % 16) AS h
        |  FROM documents),
        |xs AS (SELECT doc_id, w, h, unnest(range(0, 16)) AS i FROM dims),
        |ys AS (SELECT doc_id, w, h, i, unnest(range(0, 16)) AS j FROM xs),
        |px AS (SELECT doc_id, w, h, i, j, unnest([0, 1, 2]) AS c FROM ys)
        |SELECT doc_id AS media_id,
        |  CAST(w AS BIGINT) AS src_w, CAST(h AS BIGINT) AS src_h,
        |  CAST(SUM(((doc_id*31 + (i*w//16)*7 + (j*h//16)*13 + c*101) % 256)
        |           * (1 + i + 16*j + 256*c)) AS BIGINT) AS checksum
        |FROM px GROUP BY doc_id, w, h ORDER BY media_id""".stripMargin),
      (s, d) => Multimodal.imageResizeRoundtrip(s, docs(s, d))),

    // ViT-style patch statistics over the real decode (m58): the m47
    // roundtrip checked one checksum per image; this hash-checks EVERY
    // 4x4 tile (edge tiles partial) — per-cell channel-summed
    // intensity, replayed by the oracle in pure integer arithmetic.
    Q("m58_image_patches", Some(
      """WITH dims AS (
        |  SELECT doc_id, 8 + (doc_id % 16) AS w, 8 + ((doc_id // 16) % 16) AS h
        |  FROM documents),
        |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims),
        |ys AS (SELECT doc_id, x, unnest(range(0, h)) AS y FROM xs)
        |SELECT doc_id AS media_id, y // 4 AS py, x // 4 AS px,
        |       3 * count(*) AS n_values,
        |       CAST(SUM((doc_id*31 + x*7 + y*13) % 256
        |              + (doc_id*31 + x*7 + y*13 + 101) % 256
        |              + (doc_id*31 + x*7 + y*13 + 202) % 256) AS BIGINT)
        |         AS sum_intensity
        |FROM ys GROUP BY 1, 2, 3 ORDER BY media_id, py, px""".stripMargin),
      (s, d) => Multimodal.imagePatches(s, docs(s, d))),

    // REAL-codec audio roundtrip (the m48 mirror of m47): per doc,
    // encode the deterministic 16-bit PCM waveform to actual WAV bytes
    // and decode them back via javax.sound.sampled — genuine codec on
    // genuine bytes, both directions. WAV PCM is lossless, so the
    // decoded position-weighted sample checksum must equal the
    // arithmetic checksum of the generated waveform, computed
    // independently by DuckDB in pure integer SQL (no codec on the
    // oracle side). A wrong sample, endianness flip, header misparse or
    // dropped frame all hash-fail.
    Q("m48_audio_decode", Some(
      """WITH ns AS (
        |  SELECT doc_id, 64 + (doc_id % 192) AS n FROM documents),
        |ix AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM ns)
        |SELECT doc_id AS media_id,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(SUM(((doc_id*31 + i*7919) % 65536 - 32768) * (1 + i)) AS BIGINT)
        |    AS checksum
        |FROM ix GROUP BY doc_id, n ORDER BY media_id""".stripMargin),
      (s, d) => Multimodal.audioDecodeRoundtrip(s, docs(s, d))
        .orderBy(col("media_id"))),

    // framed short-time energy over the real audio decode (m57): the
    // VAD/silence-trim feature. 32-sample frames, per-frame Σs² exact
    // in int64; the oracle regenerates the PCM arithmetically and
    // replays the framing with integer // (truncation = floor on these
    // non-negative indexes; DuckDB HUGEINT sum cast to BIGINT).
    // per-clip loudness + normalization gain over the real decode
    // (m63): exact integer mean square and the power-of-4 shift toward
    // RMS 8192 — log2 via the bin-length trick (the q-gap bucket
    // replay), silent clips pinned to shift 0. The oracle regenerates
    // the PCM arithmetically (the m48/m57 contract: WAV is lossless,
    // so decode totals ≡ waveform arithmetic).
    Q("m63_audio_loudness", Some(
      """WITH ns AS (
        |  SELECT doc_id, 64 + (doc_id % 192) AS n FROM documents),
        |ix AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM ns),
        |sq AS (SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |         CAST(sum(((doc_id*31 + i*7919) % 65536 - 32768)
        |           * ((doc_id*31 + i*7919) % 65536 - 32768)) AS BIGINT)
        |           AS sum_sq
        |       FROM ix GROUP BY doc_id, n),
        |m AS (SELECT doc_id, n_samples, sum_sq,
        |        sum_sq // n_samples AS mean_sq FROM sq)
        |SELECT doc_id AS media_id, n_samples, sum_sq,
        |  CAST(mean_sq AS BIGINT) AS mean_sq,
        |  CAST(CASE WHEN mean_sq = 0 THEN 0
        |    WHEN mean_sq < 67108864
        |      THEN (length(bin(67108864 // mean_sq)) - 1) // 2
        |    ELSE -((length(bin(mean_sq // 67108864)) - 1) // 2)
        |  END AS BIGINT) AS gain_shifts
        |FROM m ORDER BY media_id""".stripMargin),
      (s, d) => Multimodal.audioLoudness(s, docs(s, d))),

    Q("m57_audio_energy", Some(
      """WITH ns AS (
        |  SELECT doc_id, 64 + (doc_id % 192) AS n FROM documents),
        |ix AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM ns),
        |sx AS (SELECT doc_id, i // 32 AS frame_no,
        |              (doc_id*31 + i*7919) % 65536 - 32768 AS s
        |       FROM ix)
        |SELECT doc_id AS media_id, frame_no, count(*) AS n_samples,
        |       CAST(sum(s * s) AS BIGINT) AS energy
        |FROM sx GROUP BY 1, 2
        |ORDER BY media_id, frame_no""".stripMargin),
      (s, d) => Multimodal.audioFrameEnergy(s, docs(s, d))
        .orderBy(col("media_id"), col("frame_no"))),

    // REAL-codec VIDEO roundtrip (m49 — the third modality goes real):
    // per doc, encode the deterministic frame sequence to an actual
    // multi-frame GIF container and decode it back frame-by-frame via
    // javax.imageio — genuine codec on genuine bytes, both directions.
    // Indexed-grayscale GIF is lossless, so the frame-index-weighted
    // decode checksum must equal the arithmetic checksum of the
    // pattern, computed independently by DuckDB in pure integer SQL
    // (staged unnests, as m47). A wrong pixel, frame count, frame
    // order or dimension all hash-fail.
    Q("m49_video_decode", Some(
      """WITH dims AS (
        |  SELECT doc_id, 8 + (doc_id % 12) AS w, 8 + ((doc_id // 12) % 12) AS h,
        |         2 + (doc_id % 7) AS nf
        |  FROM documents),
        |fs AS (SELECT doc_id, w, h, nf, unnest(range(0, nf)) AS f FROM dims),
        |xs AS (SELECT doc_id, w, h, nf, f, unnest(range(0, w)) AS x FROM fs),
        |ys AS (SELECT doc_id, w, h, nf, f, x, unnest(range(0, h)) AS y FROM xs)
        |SELECT doc_id AS media_id,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST(SUM(((doc_id*31 + f*17 + x*7 + y*13) % 256)
        |           * (1 + x + w*y) * (1 + f)) AS BIGINT) AS checksum
        |FROM ys GROUP BY doc_id, w, h, nf ORDER BY media_id""".stripMargin),
      (s, d) => Multimodal.videoDecodeRoundtrip(s, docs(s, d))
        .orderBy(col("media_id"))),

    // REAL-codec frame sampling (m50): every 2nd frame of each doc's
    // GIF as its own row with the frame's decoded position-weighted
    // checksum — m46's row-amplifying shape on a genuine container.
    Q("m50_video_frames", Some(
      """WITH dims AS (
        |  SELECT doc_id, 8 + (doc_id % 12) AS w, 8 + ((doc_id // 12) % 12) AS h,
        |         2 + (doc_id % 7) AS nf
        |  FROM documents),
        |fs AS (SELECT doc_id, w, h, unnest(range(0, nf, 2)) AS f FROM dims),
        |xs AS (SELECT doc_id, w, h, f, unnest(range(0, w)) AS x FROM fs),
        |ys AS (SELECT doc_id, w, h, f, x, unnest(range(0, h)) AS y FROM xs)
        |SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
        |  CAST(SUM(((doc_id*31 + f*17 + x*7 + y*13) % 256)
        |           * (1 + x + w*y)) AS BIGINT) AS frame_checksum
        |FROM ys GROUP BY doc_id, f ORDER BY media_id, frame_idx""".stripMargin),
      (s, d) => Multimodal.videoFrameSample(s, docs(s, d))
        .toDF().orderBy(col("media_id"), col("frame_idx"))),

    // Perceptual dHash over the REAL codec path (m51): encode the
    // textured pattern to actual PNG bytes, decode via javax.imageio,
    // fingerprint the DECODED image (9-col × 8-row luminance grid,
    // gradient-sign bits, MSB-first fold). PNG is lossless, so the
    // fingerprint must equal the arithmetic dHash of the pattern, which
    // the generated oracle recomputes in pure integer SQL from the same
    // constants — a wrong pixel, channel order, or sample coordinate
    // flips bits and hash-fails.
    Q("m51_image_dhash", Some(m51Sql),
      (s, d) => Multimodal.imageDHashes(s, docs(s, d))
        .orderBy(col("media_id"))),

    // DCT perceptual hash (m64): the fingerprint that survives
    // RESAMPLING — dHash's adjacent-sample gradients flip when a
    // rescale shifts sample phase, while the low-frequency DCT block is
    // a property of coarse structure. Real PNG encode→decode on the
    // Spark side; the oracle replays the 32×32 luminance grid, the
    // separable DCT through the SAME Q14 integer basis (rules 12/14),
    // the integer mean threshold, and the 63-bit AC fold in pure SQL.
    Q("m64_image_phash", Some(m64Sql),
      (s, d) => Multimodal.imagePHashes(s, docs(s, d))
        .orderBy(col("media_id"))),

    // Image NEAR-DUP pairs via banded Hamming join on dHash (m52): each
    // doc contributes its image plus a perturbed variant (localized
    // +64 lattice edit — a logo/stamp overlay on an otherwise identical
    // image); both run the real PNG encode→decode, then the simhashPairs
    // LSH shape — 4 bands × 16 bits generate candidates, exact popcount
    // ≤ 12 verifies. The oracle replays fingerprints, banding, and
    // Hamming arithmetic end-to-end; at sf0.01 every surviving pair is
    // a planted (original, variant) couple.
    Q("m52_image_neardup", Some(m52Sql),
      (s, d) => Multimodal.imageNearDupPairs(s, docs(s, d))
        .orderBy(col("id_a"), col("id_b"))),

    // VERIFIED image near-dup pairs (m54) — candidates→verify for the
    // image modality, the minhashVerifiedPairs shape: m52's banded
    // 64-bit dHash generates candidates, a 256-bit wide dHash (16×17
    // grid, 4 folded words) verifies each one; both fingerprints come
    // from ONE real PNG encode→decode per image. The oracle replays
    // both resolutions, the banding, the cap, and both Hamming sums.
    Q("m54_image_neardup_verified", Some(m54Sql),
      (s, d) => Multimodal.imageNearDupVerified(s, docs(s, d))
        .orderBy(col("id_a"), col("id_b"))),

    // Image dedup-at-the-door (m55): an incoming image batch (planted
    // near-dups of corpus images + genuinely novel images) is decoded
    // and fingerprinted ONCE, then deduped against the PERSISTED image
    // signature store (built once per JVM from the settled corpus —
    // corpus images never re-decoded). Banding generates candidates
    // against the store, the 256-bit wide hash verifies, and each batch
    // image gets a keep/reason decision. The oracle replays both
    // fingerprint resolutions, the store membership, the store-side
    // bucket cap, and the decision join.
    Q("m55_image_store_dedup", Some(m55Sql),
      (s, d) => {
        val all = docs(s, d)
        val spec = all.filter(col("doc_id") % 10 === 1)
          .select(col("doc_id"), lit(true).as("variant"))
          .unionByName(all.filter(col("doc_id") % 10 === 9)
            .select(col("doc_id"), lit(false).as("variant")))
        Multimodal.dedupImageBatchAgainstStore(
          s, spec, Staging.imageStoreDir(s, d))
          .orderBy(col("media_id"))
      }),

    // Streaming IMAGE dedup-on-ingest (q154): the FULL image store loop
    // as a stream — two image-batch spec files arrive, each micro-batch
    // is decoded+fingerprinted once inside foreachBatch, deduped
    // against the persisted image store, and its SURVIVORS' hashes fold
    // back in, so batch 1's re-encodes of batch 0's novel images are
    // flagged corpus_dup though the initial store never held them.
    // Every stage rebuilt fresh per invocation (the stream MUTATES the
    // store). The oracle replays both days' decisions, with day-1 store
    // membership = store0 + ALL day-0 keepers.
    Q("q154_stream_image_ingest", Some(q154Sql),
      (s, d) => {
        val all = docs(s, d).filter(col("doc_id") < imageLoopMaxDocId)
        val root = Staging.tempDir("graft_q154")
        val store = s"$root/store"
        Multimodal.writeImageSignatureStore(s,
          all.filter(col("doc_id") % 10 =!= 8 && col("doc_id") % 10 =!= 9),
          store)
        val in = s"$root/in"
        Staging.stageFrames(Seq(
          all.filter(col("doc_id") % 10 === 1)
            .select(col("doc_id"), lit(true).as("variant"))
            .unionByName(all.filter(col("doc_id") % 10 === 8)
              .select(col("doc_id"), lit(false).as("variant"))),
          all.filter(col("doc_id") % 10 === 8)
            .select(col("doc_id"), lit(true).as("variant"))
            .unionByName(all.filter(col("doc_id") % 10 === 9)
              .select(col("doc_id"), lit(false).as("variant")))), in)
        val sink = s"$root/sink"
        val q = graft.streaming.IngestImageDedup.start(s, in, store, sink)
        try q.processAllAvailable() finally q.stop()
        Seq(0, 1).map(i =>
            s.read.parquet(s"$sink/decisions/batch_$i")
              .withColumn("batch_id", lit(i.toLong)))
          .reduce(_.unionByName(_))
          .select(col("batch_id"), col("media_id"), col("keep"), col("reason"))
          .orderBy(col("batch_id"), col("media_id"))
      }),

    // AUDIO near-dup pairs (m56) — the m52 LSH shape for audio, real
    // WAV codec in the loop: 65-frame tracks (originals + re-recorded
    // variants whose every 21st frame has a shifted phase) are
    // encoded→decoded, the loudness envelope fingerprinted from the
    // DECODED PCM, then banded-Hamming joined. The oracle replays
    // sample arithmetic, frame energies, the fold, banding, cap, and
    // Hamming end-to-end.
    Q("m56_audio_neardup", Some(m56Sql),
      (s, d) => Multimodal.audioNearDupPairs(s, docs(s, d))
        .orderBy(col("id_a"), col("id_b"))),

    // Video near-dup pairs over the REAL codec path (m60): every doc's
    // GIF plus a TRIMMED re-cut (first frame dropped — the re-upload
    // edit), both genuinely decoded; videos pair by exact Jaccard of
    // their distinct frame-checksum sets through the df-capped
    // inverted index. Frame-level matching survives re-containering
    // where a file hash catches nothing; lossless GIF ⇒ the oracle
    // replays checksums and the join in pure integer SQL.
    Q("m60_video_neardup", Some(m60Sql),
      (s, d) => Multimodal.videoNearDup(s, docs(s, d))),

    // scene-cut detection over the real codec path (m61): adjacent-
    // frame SAD on the decoded pixels, cut when mean abs diff > 35
    // gray levels (cross-multiplied integer predicate, rule 17) — the
    // shot segmentation a video pipeline runs before frame sampling.
    // Lossless GIF ⇒ the oracle replays the pixel arithmetic exactly.
    Q("m61_video_scene_cuts", Some(
      """WITH dims AS (
        |  SELECT doc_id, 8 + (doc_id % 12) AS w, 8 + ((doc_id // 12) % 12) AS h,
        |         2 + (doc_id % 7) AS nf
        |  FROM documents),
        |fs AS (SELECT doc_id, w, h, unnest(range(1, nf)) AS f FROM dims),
        |xs AS (SELECT doc_id, w, h, f, unnest(range(0, w)) AS x FROM fs),
        |ys AS (SELECT doc_id, w, h, f, x, unnest(range(0, h)) AS y FROM xs),
        |d AS (
        |  SELECT doc_id, w, h, f,
        |         SUM(abs((doc_id*31 + f*17 + x*7 + y*13) % 256
        |               - (doc_id*31 + (f-1)*17 + x*7 + y*13) % 256)) AS sad
        |  FROM ys GROUP BY 1, 2, 3, 4)
        |SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
        |  CAST(sad AS BIGINT) AS sad,
        |  CAST(sad AS DOUBLE) / CAST(w*h AS DOUBLE) AS mad,
        |  sad > 35*w*h AS is_cut
        |FROM d ORDER BY media_id, frame_idx""".stripMargin),
      (s, d) => Multimodal.videoSceneCuts(s, docs(s, d))),

    // Adaptive energy-threshold VAD segmentation over the real codec
    // path (m62): m57's decoded frame energies classify active above
    // the CLIP MEAN via integer cross-multiplication (rule 17 — the
    // adaptive threshold never divides); consecutive active frames
    // merge via the island trick (clip-partitioned window, frames/clip
    // bounded). Lossless PCM ⇒ the oracle replays energies
    // arithmetically and the segmentation as integer SQL.
    Q("m62_audio_vad", Some(
      s"""WITH ns AS (
        |  SELECT doc_id, 64 + (doc_id % 192) AS n FROM documents),
        |ix AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM ns),
        |fx AS MATERIALIZED (
        |  SELECT doc_id, i // 32 AS frame_no,
        |         CAST(sum(((doc_id*31 + i*7919) % 65536 - 32768)
        |           * ((doc_id*31 + i*7919) % 65536 - 32768)) AS BIGINT)
        |           AS energy
        |  FROM ix GROUP BY 1, 2),
        |st AS MATERIALIZED (
        |  SELECT doc_id, count(*) AS nf, CAST(sum(energy) AS BIGINT) AS te
        |  FROM fx GROUP BY doc_id),
        |act AS (SELECT fx.doc_id AS doc_id, frame_no,
        |          frame_no - row_number() OVER (
        |            PARTITION BY fx.doc_id ORDER BY frame_no) AS isl
        |        FROM fx JOIN st USING (doc_id)
        |        WHERE energy * nf > te),
        |segs AS (SELECT doc_id, isl, count(*) AS seg_len
        |         FROM act GROUP BY 1, 2),
        |pc AS (SELECT doc_id, count(*) AS n_segments,
        |         max(seg_len) AS longest_segment,
        |         CAST(sum(seg_len) AS BIGINT) AS n_active
        |       FROM segs GROUP BY doc_id)
        |SELECT st.doc_id AS media_id, st.nf AS n_frames,
        |  coalesce(pc.n_active, 0) AS n_active,
        |  coalesce(pc.n_segments, 0) AS n_segments,
        |  coalesce(pc.longest_segment, 0) AS longest_segment,
        |  CAST(coalesce(pc.n_active, 0) AS DOUBLE)
        |    / CAST(st.nf AS DOUBLE) AS speech_ratio
        |FROM st LEFT JOIN pc USING (doc_id)
        |ORDER BY media_id""".stripMargin),
      (s, d) => Multimodal.audioVadSegments(s, docs(s, d))),

    // Energy-profile audio fingerprint over the REAL codec path (m53):
    // decode the WAV, split the DECODED PCM into 16-sample frames, one
    // bit per adjacent frame pair (later frame louder). Lossless PCM ⇒
    // the fingerprint equals the arithmetic fold over the generated
    // samples, replayed by the oracle in pure integer SQL.
    Q("m53_audio_fingerprint", Some(
      """WITH ns AS (SELECT doc_id, (64 + (doc_id % 192)) // 16 AS nf FROM documents),
        |ix AS (SELECT doc_id, nf, unnest(range(0, nf*16)) AS i FROM ns),
        |en AS (SELECT doc_id, nf, i // 16 AS f,
        |         sum(abs((doc_id*31 + i*7919) % 65536 - 32768)) AS e
        |       FROM ix GROUP BY doc_id, nf, f),
        |bits AS (SELECT a.doc_id, a.nf, a.f AS f,
        |           CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
        |         FROM en a JOIN en b ON a.doc_id = b.doc_id AND b.f = a.f + 1),
        |fp AS (SELECT doc_id, max(nf) AS nf,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list(CAST(bit AS BIGINT) ORDER BY f)),
        |           (acc, x) -> acc * 2 + x) AS fingerprint
        |       FROM bits GROUP BY doc_id)
        |SELECT doc_id AS media_id, CAST(nf AS BIGINT) AS n_frames,
        |       CAST(fingerprint AS BIGINT) AS fingerprint
        |FROM fp ORDER BY media_id""".stripMargin),
      (s, d) => Multimodal.audioFingerprints(s, docs(s, d))
        .orderBy(col("media_id")))
  )
}
