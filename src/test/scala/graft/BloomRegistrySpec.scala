package graft

import org.apache.spark.sql.functions._

/** Pins the Spark-internal Bloom expressions behind graft_bloom_agg /
  * graft_might_contain (see DotProduct.scala registration comment).
  *
  * These wrap catalyst classes whose constructors are NOT public API and
  * whose numItems/numBits arguments are silently capped by
  * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` / `.maxNumBits`.
  * A Spark upgrade or conf change can therefore alter sketch size (and so
  * fpp) with no signal. This spec pins the contract we depend on so such a
  * drift breaks a test instead of production:
  *   1. serialized layout: version(int) + numHashFunctions(int) +
  *      numWords(long) header (16 bytes) followed by numBits/8 bytes of
  *      bitset;
  *   2. no false negatives;
  *   3. the silent conf cap itself (request above the cap → capped size).
  */
class BloomRegistrySpec extends SparkSpec {
  import spark.implicits._

  private def sketchOf(keys: Seq[Long], items: Long, bits: Long): Array[Byte] = {
    keys.toDF("k")
      .agg(call_function("graft_bloom_agg", xxhash64($"k"), lit(items), lit(bits)))
      .head().getAs[Array[Byte]](0)
  }

  test("sketch serialization size is 16-byte header + numBits/8") {
    // 8192 bits -> 128 longs; header = version(4) + numHashFns(4) + numWords(8)
    val bf = sketchOf(0L until 100L, 100L, 8192L)
    assert(bf.length == 16 + 8192 / 8,
      s"BloomFilterImpl serialized size drifted: ${bf.length}")
    // version 2, and the optimal hash-fn count for 100 items / 8192 bits
    // (= round(ln2 * bits/items) = 57) — both silently version-coupled
    assert(bf.take(4).toSeq == Seq[Byte](0, 0, 0, 2))
    assert(bf.slice(4, 8).toSeq == Seq[Byte](0, 0, 0, 57))
  }

  test("no false negatives over 1000 inserted keys") {
    val bf = sketchOf(0L until 1000L, 1000L, 16384L)
    val misses = (0L until 1000L).toDF("k")
      .filter(!call_function("graft_might_contain", lit(bf), xxhash64($"k")))
      .count()
    assert(misses == 0, "Bloom filter produced a false negative")
  }

  test("numBits silently caps at spark.sql.optimizer.runtime.bloomFilter.maxNumBits") {
    val key = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val prior = spark.conf.get(key)
    try {
      spark.conf.set(key, "4096")
      // request 16x the cap; the aggregate truncates with NO error — this
      // is the documented hazard, pinned here on purpose.
      val bf = sketchOf(0L until 100L, 100L, 65536L)
      assert(bf.length == 16 + 4096 / 8,
        s"expected silent cap to 4096 bits, got ${(bf.length - 16) * 8}")
    } finally spark.conf.set(key, prior)
  }
}
