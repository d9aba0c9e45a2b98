package graft.table

/** Per-data-file Bloom filters for manifest-level point-lookup pruning —
  * the file-skipping analog of Iceberg's puffin blobs / parquet column
  * Bloom filters, lifted to PLAN time: a key-equality read consults the
  * (driver-resident, KB-sized) filters and opens only files that might
  * hold the key, instead of scanning every file of a 100 TB table. The
  * reference's closest analog is the DataFile slot lookup
  * (DataFile.java:33-36) — O(1) record addressing, here at file
  * granularity over immutable parquet.
  *
  * Contract: NO false negatives — a file holding the key always survives
  * the filter (classic Bloom guarantee), so [[SnapshotStore.lookupByKey]]
  * keeps the store's superset-then-refine shape. False positives only
  * cost an extra file read (~1% at the chosen sizing).
  *
  * Sizing: ~10 bits/row of the FILE the filter covers, k=7 probes →
  * ≈0.8% false-positive rate. Bits are capped at 2²⁵ (4 MiB) per file;
  * past that the fpp degrades gracefully rather than the manifest Bloom file
  * growing unboundedly — at the design point files are Z-clustered
  * ~100 MB units (≪ 3M rows), well under the cap.
  *
  * Hashing: the ROW side is hashed with Spark's `xxhash64` (codegen'd,
  * computed inside the write-time scan); probe positions derive from that
  * 64-bit value with Kirsch–Mitzenmacher double hashing (h₁ + i·h₂), so
  * the driver can test literal keys by evaluating the same XxHash64
  * expression — bit-identical to the write side by construction.
  */
object Bloom {

  val BitsPerKey = 10
  val K = 7
  val MaxBits: Int = 1 << 25

  /** Filter size in bits for an expected key count (multiple of 64). */
  def bitsFor(rows: Long): Int = {
    val want = math.min(MaxBits.toLong, math.max(1024L, rows * BitsPerKey))
    (((want + 63) / 64) * 64).toInt
  }

  /** Murmur3 64-bit finalizer — mixes xxhash64's output into the second
    * probe stride (public-domain bit constants). */
  private def fmix64(x: Long): Long = {
    var h = x
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  @inline private def pos(h1: Long, h2: Long, i: Int, bits: Int): Int =
    java.lang.Math.floorMod(h1 + i.toLong * h2, bits.toLong).toInt

  def add(bitset: Array[Long], hash: Long): Unit = {
    val bits = bitset.length * 64
    val h2 = fmix64(hash) | 1L
    var i = 0
    while (i < K) {
      val p = pos(hash, h2, i, bits)
      bitset(p >> 6) |= 1L << (p & 63)
      i += 1
    }
  }

  def mightContain(bitset: Array[Long], hash: Long): Boolean = {
    val bits = bitset.length * 64
    val h2 = fmix64(hash) | 1L
    var i = 0
    while (i < K) {
      val p = pos(hash, h2, i, bits)
      if ((bitset(p >> 6) & (1L << (p & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Driver-side hash of a literal key — the same `xxhash64` Spark
    * computes over the column at write time (same default seed), so probe
    * positions agree between the write scan and a driver membership test. */
  def hashLiteral(v: Any): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    XxHash64(Seq(Literal(v)), 42L).eval(null).asInstanceOf[Long]
  }

  /** One file's bitset, built in one pass over its key hashes while the
    * row count is still unknown, and sized `bitsFor(rows of the file)`.
    * Hashes are buffered while `bitsFor(n) < MaxBits` (at most
    * ≈ MaxBits / BitsPerKey longs, ~27 MB in a doubling array of at most
    * 32 MB); once the size reaches `MaxBits` it can grow no further, so
    * the buffer is folded into a `MaxBits` bitset and later hashes go
    * straight into it. The result is bit-identical to adding every hash to
    * a `bitsFor(n)` bitset. Lives inside one write task ([[UnitTaskStats]]);
    * not thread-safe. */
  final class Builder {
    private var buf = new Array[Long](1024)
    private var n = 0
    private var full: Array[Long] = null

    def add(hash: Long): Unit =
      if (full != null) Bloom.add(full, hash)
      else {
        if (n == buf.length) buf = java.util.Arrays.copyOf(buf, 2 * n)
        buf(n) = hash
        n += 1
        if (bitsFor(n) == MaxBits) { full = fold(MaxBits); buf = null }
      }

    def result(): Array[Long] = if (full != null) full else fold(bitsFor(n))

    private def fold(bits: Int): Array[Long] = {
      val b = new Array[Long](bits / 64)
      var i = 0
      while (i < n) { Bloom.add(b, buf(i)); i += 1 }
      b
    }
  }
}
