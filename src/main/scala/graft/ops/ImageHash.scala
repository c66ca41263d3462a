package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Perceptual image hashing (dHash) for image near-dup detection — the
  * image-side counterpart of the text MinHash/SimHash tier. Byte-exact
  * dedup ([[TableChecksum]]) misses re-encoded or brightness-shifted
  * copies of the same picture; dHash captures the LUMINANCE GRADIENT
  * structure, which survives both:
  *
  *  1. decode pixels ([[Multimodal.pngPixels]] through the JDK's own
  *     reader, [[Multimodal.gifPixels]] through a pure-Scala LZW walk —
  *     no external codec),
  *  2. average-pool integer luma (299·R + 587·G + 114·B, the BT.601
  *     weights ×1000 so everything stays exact integer) onto a
  *     (gridW+1) × gridH block grid,
  *  3. bit (x, y) = 1 iff block (x, y) is brighter than its right
  *     neighbor — 8×8 = 64 comparisons = one 64-bit hash.
  *
  * A constant brightness shift adds the same amount to both sides of
  * every comparison, so the hash is invariant to it by construction; a
  * local edit flips only the bits whose blocks it touches, so true
  * near-dups land within small Hamming distance.
  *
  * The 100 TB shape: hashing is ONE narrow map riding the image scan
  * (no shuffle, no driver traffic — each task hashes its own rows);
  * candidate generation splits the 64-bit hash into four 16-bit bands
  * and joins on (band index, band value) — the SimHash pigeonhole: any
  * pair within Hamming distance 3 shares at least one of 4 bands — so
  * the join is bucket-local and NEVER all-pairs. Exact perceptual
  * dedup is a plain groupBy on the 8-byte hash.
  */
object ImageHash {

  /** dHash over decoded pixels, exact integer arithmetic end to end.
    *
    * Block x-boundaries are `floor(j·w / (gridW+1))`, y-boundaries
    * `floor(j·h / gridH)` — arbitrary image sizes pool onto the same
    * grid, and unequal block areas are handled by cross-multiplying
    * the comparison (`sumL·areaR > sumR·areaL`), which never divides
    * and so never rounds. Bit i (= y·gridW + x) is set iff the mean
    * luma of block (x, y) exceeds block (x+1, y). Images smaller than
    * the grid (an empty block) → None, never a fabricated hash.
    *
    * Overflow headroom: block luma sums are < area·255'000; the cross
    * product stays far inside a Long for any image a task would hold.
    */
  def dhashFromPixels(w: Int, h: Int, channels: Int, px: Array[Byte],
      gridW: Int = 8, gridH: Int = 8): Option[Long] = {
    val cols = gridW + 1
    if (w < cols || h < gridH || channels < 1) return None
    if (px.length != w * h * channels) return None
    // Per-block luma sums (row-major over the cols × gridH grid).
    val sums = new Array[Long](cols * gridH)
    val areas = new Array[Long](cols * gridH)
    var by = 0
    while (by < gridH) {
      val y0 = by * h / gridH
      val y1 = (by + 1) * h / gridH
      var bx = 0
      while (bx < cols) {
        val x0 = bx.toLong.toInt * w / cols
        val x1 = (bx + 1) * w / cols
        var s = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val o = (y * w + x) * channels
            val l =
              if (channels == 1) 1000L * (px(o) & 0xff)
              else 299L * (px(o) & 0xff) + 587L * (px(o + 1) & 0xff) +
                114L * (px(o + 2) & 0xff) // alpha (channel 3) ignored
            s += l
            x += 1
          }
          y += 1
        }
        sums(by * cols + bx) = s
        areas(by * cols + bx) = (y1 - y0).toLong * (x1 - x0)
        bx += 1
      }
      by += 1
    }
    var hash = 0L
    var i = 0
    while (i < gridW * gridH) {
      val y = i / gridW
      val x = i % gridW
      val l = y * cols + x
      if (sums(l) * areas(l + 1) > sums(l + 1) * areas(l))
        hash |= 1L << i
      i += 1
    }
    Some(hash)
  }

  /** Magic-byte dispatch to the pixel decoders. RGBA PNGs hash with the
    * alpha channel ignored; anything undecodable → None.
    */
  private def decode(b: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] =
    if (b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P')
      Multimodal.pngPixels(b)
    else if (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F')
      Multimodal.gifPixels(b).map { case (w, h, px) => (w, h, 3, px) }
    else None

  /** Hash every image: `id`, `dhash` (16 hex chars, null when the
    * payload doesn't decode), and the four 16-bit LSH bands `b0`–`b3`
    * (b0 = bits 0–15). One narrow map — the plan has no exchange.
    */
  def dhash(spark: SparkSession, media: DataFrame,
      idCol: String = "id", bytesCol: String = "bytes"): DataFrame = {
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(bytesCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, b) =>
          decode(b).flatMap { case (w, h, c, px) =>
            dhashFromPixels(w, h, c, px)
          } match {
            case Some(hv) =>
              def band(k: Int): Option[Int] =
                Some(((hv >>> (16 * k)) & 0xffffL).toInt)
              (id, f"$hv%016x", band(0), band(1), band(2), band(3))
            case None =>
              (id, null: String, None: Option[Int], None: Option[Int],
                None: Option[Int], None: Option[Int])
          }
        }
      }.toDF(idCol, "dhash", "b0", "b1", "b2", "b3")
  }

  /** Near-dup candidate pairs within `maxHamming` (≤ 3 for the 4-band
    * pigeonhole to be lossless): explode each hash into its four
    * (band index, band value) keys, join bucket-locally on the key,
    * then verify the full 64-bit Hamming distance with `bit_count` on
    * the banded XOR. The only shuffles key on 16-bit band values and
    * on the deduped candidate ids — never an all-pairs stage.
    */
  def nearDupPairs(hashes: DataFrame, idCol: String = "id",
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      "4 x 16-bit bands guarantee recall only up to Hamming 3")
    val keyed = hashes
      .select(col(idCol).as("__id"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))))
      .where(col("col").isNotNull)
      .select(col("__id"), col("pos").as("band_idx"),
        col("col").as("band_val"))
    val cand = keyed.as("x").join(keyed.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("id_a"), col("y.__id").as("id_b"))
      .distinct()
    val hx = hashes.select(col(idCol).as("__id"),
      col("b0"), col("b1"), col("b2"), col("b3"))
    val ham = Seq("b0", "b1", "b2", "b3")
      .map(c => bit_count(col(s"a.$c").bitwiseXOR(col(s"b.$c"))))
      .reduce(_ + _)
    cand
      .join(hx.as("a"), col("id_a") === col("a.__id"))
      .join(hx.as("b"), col("id_b") === col("b.__id"))
      .select(col("id_a"), col("id_b"), ham.cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Exploded LSH rows of a hash table — ONE row per (image, band):
    * `band_key` packs (band index << 16 | band value) into a single
    * int so the stored table BUCKETS and JOINS on one key (a bucketed
    * join on a composite key would re-shuffle), and each row carries
    * all four bands so a probe verifies Hamming distance without a
    * second index join. Persist via
    * `Layout.replaceBucketed(spark, bandIndexRows(hashes),
    * "graft_dhash_bands", "band_key", buckets)` — the image-side
    * sibling of the text near-dup band index: standing images are
    * hashed ONCE at build time, never per ingest.
    */
  def bandIndexRows(hashes: DataFrame, idCol: String = "id"): DataFrame =
    hashes.where(col("dhash").isNotNull)
      .select(col(idCol), col("b0"), col("b1"), col("b2"), col("b3"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))))
      .select(col(idCol),
        (col("pos") * lit(65536) + col("col")).cast("int").as("band_key"),
        col("b0"), col("b1"), col("b2"), col("b3"))

  /** Probe a hashed batch against the PERSISTED band index: candidates
    * share a (band position, band value) key — the same pigeonhole as
    * [[nearDupPairs]], so recall is lossless up to Hamming 3 — and the
    * full 64-bit Hamming check runs on band columns carried by both
    * sides. The index side rides its `band_key` bucket layout with no
    * exchange; the probe side shuffles only the BATCH. Returns
    * (batch_id, index_id, hamming).
    */
  def incrementalPairsFromIndex(batchHashes: DataFrame,
      indexBands: DataFrame, idCol: String = "id",
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      "4 x 16-bit bands guarantee recall only up to Hamming 3")
    val probe = bandIndexRows(batchHashes, idCol)
      .select(col(idCol).as("batch_id"), col("band_key"),
        col("b0").as("a0"), col("b1").as("a1"),
        col("b2").as("a2"), col("b3").as("a3"))
    val idx = indexBands
      .select(col(idCol).as("index_id"), col("band_key"),
        col("b0").as("c0"), col("b1").as("c1"),
        col("b2").as("c2"), col("b3").as("c3"))
    val ham = (0 to 3)
      .map(k => bit_count(col(s"a$k").bitwiseXOR(col(s"c$k"))))
      .reduce(_ + _)
    probe.join(idx, "band_key")
      .select(col("batch_id"), col("index_id"),
        col("a0"), col("a1"), col("a2"), col("a3"),
        col("c0"), col("c1"), col("c2"), col("c3"))
      .distinct()
      .select(col("batch_id"), col("index_id"),
        ham.cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Exact perceptual dedup: identical 64-bit hashes collapse to one
    * keeper (the minimum id — deterministic, no tie ambiguity). A
    * plain groupBy on the 8-byte hash — the cheapest dedup shuffle
    * there is; undecodable rows (null hash) never group.
    */
  def exactGroups(hashes: DataFrame, idCol: String = "id"): DataFrame =
    hashes.where(col("dhash").isNotNull)
      .groupBy("dhash")
      .agg(min(col(idCol)).as("keeper_id"),
        count(lit(1)).as("n_dups"))
}
