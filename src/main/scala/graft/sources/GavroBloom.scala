package graft.sources

/** Per-block Bloom filter for POINT-predicate block skipping on columns
  * whose layout is not value-clustered — the case min/max stats cannot
  * help: a block of 8 sequential-id records carries 8 md5 session keys
  * whose [min, max] spans essentially the whole keyspace, so an equality
  * or IN probe admits every block of every file. The same gap parquet
  * closes with its column bloom filters (PARQUET-41): a few bits per
  * value recorded at write time turn "range cannot exclude" into
  * "definitely absent" for `=`, `<=>` and IN leaves.
  *
  * Soundness needs only determinism, not hash quality: a value inserted
  * at write time always sets the same bits the query probes, so a bloom
  * can ADMIT a block it needn't (false positive, ~1% at the sizing
  * below) but can never exclude a block holding the value. Null rows are
  * never inserted and never need to be: the leaves this proof serves
  * (`=` / `<=>` / IN with non-null literals — the builder's gate) are
  * not-TRUE on null operands, so absence over the non-null population is
  * absence, period — the same null argument [[GavroSkip]]'s range proof
  * stands on.
  *
  * Classic m-bit / k-hash construction with Kirsch–Mitzenmacher double
  * hashing (g_i = h1 + i·h2): two 64-bit FNV-1a passes over the value's
  * canonical bytes (longs big-endian — int and long columns hash
  * identically, mirroring the footer stat codec's shared `long` slot;
  * strings as UTF-8; booleans one byte). Self-consistent within the
  * format — both sides of the contract are this file.
  *
  * Sized at [[GavroBloom.BitsPerValue]] = 10 bits/value, k = 7 → ~0.8%
  * false-positive rate; a 1 MiB block of ~100-byte records costs ~13 KiB
  * of footer per bloom column. An all-null block yields an all-zero
  * bloom that excludes every probe — correct: no non-null value exists
  * to match. */
final case class GavroBloom(tpe: Byte, k: Int, bits: Array[Long])
  extends Serializable {

  private def mightContain(h1: Long, h2: Long): Boolean = {
    val m = bits.length.toLong << 6
    var i = 0
    while (i < k) {
      val pos = java.lang.Long.remainderUnsigned(h1 + i * h2, m)
      if ((bits((pos >>> 6).toInt) & (1L << (pos & 63L).toInt)) == 0L)
        return false
      i += 1
    }
    true
  }

  /** TRUE only when no record in the block can hold `v`: the value's
    * kind must match the column's recorded type (a drifted literal —
    * impossible for well-typed plans — never excludes) and every probe
    * bit must be unset. */
  def definitelyAbsent(v: Any): Boolean =
    GavroBloom.hash2(tpe, v) match {
      case Some((h1, h2)) => !mightContain(h1, h2)
      case None => false
    }
}

object GavroBloom {
  /** ~1% fpp at k = 7; the footer cost that buys point-predicate block
    * skipping on unclustered columns. */
  val BitsPerValue: Int = 10
  val K: Int = 7

  /** IN-proof size bound. A block with NO true match is excluded only
    * when EVERY listed value probes definitely-absent, so the win
    * probability collapses geometrically with the list:
    * P(exclude) = (1−fp)^|IN| ≈ e^(−|IN|·fp). At this sizing's ~0.8%
    * fp that is ~0.6 at 64 values and ~0.0003 at the 1024 push cap —
    * measured at the cap (round 17, PROGRESS.md `bloom_plan_cost`): 8378 of
    * 8378 blocks admitted, every one through a false positive, after
    * ~100 ms of hash passes. Past this bound the proof is declined:
    * it cannot win often enough to pay for its own O(values × blocks)
    * planning walk. The range proof on the same IN stays O(log values)
    * and unbounded. */
  val InProofMax: Int = 64

  private def fnv64(bytes: Array[Byte], basis: Long): Long = {
    var h = basis
    var i = 0
    while (i < bytes.length) {
      h ^= bytes(i) & 0xffL
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Canonical bytes per footer stat type code ([[GavroFooter]]'s
    * codes: 0 long, 2 string, 3 boolean, 4 int; doubles are gated out at
    * the writer — float equality is not a probe shape worth footer
    * bytes). Returns None on kind mismatch → the caller must not skip. */
  private def canonical(tpe: Byte, v: Any): Option[Array[Byte]] =
    (tpe, v) match {
      case (0 | 4, n: Number) =>
        val l = n.longValue
        Some(Array[Byte]((l >>> 56).toByte, (l >>> 48).toByte,
          (l >>> 40).toByte, (l >>> 32).toByte, (l >>> 24).toByte,
          (l >>> 16).toByte, (l >>> 8).toByte, l.toByte))
      case (2, s: String) =>
        Some(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case (2, u: org.apache.spark.unsafe.types.UTF8String) =>
        Some(u.getBytes)
      case (3, b: Boolean) => Some(Array[Byte](if (b) 1 else 0))
      case _ => None
    }

  /** The (h1, h2) pair both the writer's insert and the proof's probe
    * derive; h2 is forced odd so the k probe positions stay distinct mod
    * any power-of-two bit count. */
  def hash2(tpe: Byte, v: Any): Option[(Long, Long)] =
    canonical(tpe, v).map { b =>
      (fnv64(b, 0xcbf29ce484222325L), fnv64(b, 0x84222325cbf29ce4L) | 1L)
    }

  /** Accumulates one block's (h1, h2) pairs, then sizes the bit array
    * from the observed value count — records stream out as they arrive,
    * so the count is only known at block close (same reason the block
    * offsets are footer-recorded, not predicted). */
  final class Builder(val tpe: Byte) {
    private val hs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def add(v: Any): Unit = hash2(tpe, v).foreach(hs += _)
    def result(): GavroBloom = {
      val words = math.max(1, (hs.length * BitsPerValue + 63) >>> 6)
      val bits = new Array[Long](words)
      val m = words.toLong << 6
      hs.foreach { case (h1, h2) =>
        var i = 0
        while (i < K) {
          val pos = java.lang.Long.remainderUnsigned(h1 + i * h2, m)
          bits((pos >>> 6).toInt) |= 1L << (pos & 63L).toInt
          i += 1
        }
      }
      GavroBloom(tpe, K, bits)
    }
  }
}
