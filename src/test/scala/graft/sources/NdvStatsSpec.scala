package graft.sources

import graft.SparkSpec

/** Column-level NDV statistics ([[MemTables.ColStats.ndv]] /
  * [[MemScan.estimateStatistics]]'s `columnStats()`): exact per-batch
  * distinct counts at publish, merged as a bound at planning, surfaced
  * through `SupportsReportStatistics` so Spark's cost-based optimizer
  * sees real column cardinalities on connector tables.
  */
class NdvStatsSpec extends SparkSpec {

  private def catalogOn(): Unit =
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.SeqCatalog")

  private def drop(names: String*): Unit =
    names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS graft.$n"))

  test("per-batch NDV is exact at publish; canonical across widening forms") {
    catalogOn(); drop("ndv_exact")
    spark.sql("CREATE TABLE graft.ndv_exact (k BIGINT, g BIGINT, s STRING)")
    spark.sql("INSERT INTO graft.ndv_exact " +
      "SELECT id, id % 7, concat('v', id % 3) FROM range(0, 100)")
    val live = MemTables.get("ndv_exact").get.batches
      .filter(_.removedAt == Long.MaxValue)
    // per batch: k all-distinct, g ≤ 7, s ≤ 3 — exact for the batch's rows
    live.foreach { b =>
      assert(b.stats("k").ndv === b.rowCount.toLong)
      assert(b.stats("g").ndv ===
        b.rows.map(_.getLong(1)).distinct.length.toLong)
      assert(b.stats("s").ndv ===
        b.rows.map(_.getUTF8String(2).toString).distinct.length.toLong)
    }
    drop("ndv_exact")
  }

  test("scan statistics expose bounded distinct/null counts to the CBO") {
    catalogOn(); drop("ndv_cbo")
    spark.sql("CREATE TABLE graft.ndv_cbo (k BIGINT, g BIGINT)")
    spark.sql("INSERT INTO graft.ndv_cbo SELECT id, id % 10 FROM range(0, 1000)")
    val nBatches = MemTables.get("ndv_cbo").get.batches
      .count(_.removedAt == Long.MaxValue)

    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.table("graft.ndv_cbo").queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(1000)))
      assert(stats.attributeStats.nonEmpty,
        "V2 column stats must reach the catalyst plan")
      val byName = stats.attributeStats.map { case (a, s) => a.name -> s }
      // k: all-distinct — the bound equals the row count exactly
      assert(byName("k").distinctCount.contains(BigInt(1000)))
      // g: 10 true values; the per-batch-sum bound is ≤ 10 × batches and
      // ≥ 10 (every batch holds at most 10 distinct g values)
      val g = byName("g").distinctCount.get
      assert(g >= BigInt(10) && g <= BigInt(10L * nBatches), g.toString)
      assert(byName("k").nullCount.contains(BigInt(0)))
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
    drop("ndv_cbo")
  }

  test("NDV bound caps at live rows and survives the file-backed plane") {
    catalogOn(); drop("ndv_pq")
    spark.sql("CREATE TABLE graft.ndv_pq (k BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.ndv_pq SELECT id % 5 FROM range(0, 50)")
    // the write task computed NDV into the manifest — no file load needed
    val live = MemTables.get("ndv_pq").get.batches
      .filter(_.removedAt == Long.MaxValue)
    live.foreach(b => assert(b.stats("k").ndv >= 1L && b.stats("k").ndv <= 5L))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.table("graft.ndv_pq").queryExecution.optimizedPlan.stats
      val k = stats.attributeStats.map { case (a, s) => a.name -> s }.apply("k")
      // the bound can never exceed the live row count
      assert(k.distinctCount.get <= BigInt(50))
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
    drop("ndv_pq")
  }

  test("sketch union: overlapping batch domains estimate tightly") {
    catalogOn(); drop("ndv_overlap")
    spark.sql("CREATE TABLE graft.ndv_overlap (k BIGINT)")
    // 8 commits over the SAME 5000-value domain: the Σ-cap bound reads
    // ~8 × 5000 (capped at rows); the union sketch must land near 5000
    for (_ <- 1 to 8)
      spark.sql("INSERT INTO graft.ndv_overlap SELECT id % 5000 FROM range(0, 5000)")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.table("graft.ndv_overlap").queryExecution.optimizedPlan.stats
      val k = stats.attributeStats.map { case (a, s) => a.name -> s }.apply("k")
      val est = k.distinctCount.get.toLong
      // within HLL error (~2.3% at p=11; allow 10% head-room) of the
      // true 5000 — NOT the Σ bound's 40000-capped-at-rows
      assert(est > 4500 && est < 5500, s"union estimate $est, truth 5000")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
    drop("ndv_overlap")
  }

  test("NdvSketch: exact below threshold, HLL above, merge and bytes round-trip") {
    // exact mode
    val a = NdvSketch.empty()
    (0 until 1000).foreach(i => a.addValue(java.lang.Long.valueOf(i.toLong)))
    assert(a.isExact && a.estimate === 1000L)
    // duplicates don't count
    (0 until 1000).foreach(i => a.addValue(java.lang.Long.valueOf(i.toLong)))
    assert(a.estimate === 1000L)
    // degrade past the threshold; estimate stays within sketch error
    val b = NdvSketch.empty()
    (0 until 100000).foreach(i => b.addValue(java.lang.Long.valueOf(i.toLong)))
    assert(!b.isExact)
    assert(math.abs(b.estimate - 100000L) < 10000L, b.estimate.toString)
    // union merge: overlapping halves of one domain -> the domain
    val l = NdvSketch.empty(); val r = NdvSketch.empty()
    (0 until 60000).foreach(i => l.addValue(java.lang.Long.valueOf(i.toLong)))
    (30000 until 90000).foreach(i => r.addValue(java.lang.Long.valueOf(i.toLong)))
    l.merge(r)
    assert(math.abs(l.estimate - 90000L) < 9000L, l.estimate.toString)
    // exact + exact stays exact under the threshold
    val e1 = NdvSketch.empty(); val e2 = NdvSketch.empty()
    (0 until 800).foreach(i => e1.addValue(java.lang.Long.valueOf(i.toLong)))
    (400 until 1200).foreach(i => e2.addValue(java.lang.Long.valueOf(i.toLong)))
    e1.merge(e2)
    assert(e1.isExact && e1.estimate === 1200L)
    // canonical hashing: INT 3 and LONG 3 are one distinct value
    val c = NdvSketch.empty()
    c.addValue(Integer.valueOf(3)); c.addValue(java.lang.Long.valueOf(3L))
    assert(c.estimate === 1L)
    // serialization round-trips both modes
    val exactRt = NdvSketch.fromBytes(e1.toBytes)
    assert(exactRt.estimate === e1.estimate && exactRt.isExact)
    val hllRt = NdvSketch.fromBytes(b.toBytes)
    assert(hllRt.estimate === b.estimate && !hllRt.isExact)
    // merging into a round-tripped sketch behaves identically
    exactRt.merge(hllRt)
    assert(math.abs(exactRt.estimate - b.estimate) < b.estimate / 5)
  }

  // --------------------------------------------------------- histograms

  test("per-batch samples are deterministic and survive the metadata round trip") {
    catalogOn(); drop("hist_rt")
    spark.sql("CREATE TABLE graft.hist_rt (k BIGINT) " +
      "TBLPROPERTIES ('graft.storage'='parquet')")
    spark.sql("INSERT INTO graft.hist_rt SELECT id % 13 FROM range(0, 2000)")
    val before = MemTables.get("hist_rt").get.batches
      .filter(_.removedAt == Long.MaxValue)
      .map(b => b.batchId -> b.stats("k").sample.map(_.toSeq)).toMap
    assert(before.values.forall(_.exists(_.nonEmpty)),
      "numeric columns must carry a sample")
    // restart drill: unload, recover from metadata.json, compare samples
    spark.sql("CALL graft.unload_table('hist_rt')")
    val after = MemTables.get("hist_rt").get.batches
      .filter(_.removedAt == Long.MaxValue)
      .map(b => b.batchId -> b.stats("k").sample.map(_.toSeq)).toMap
    assert(after === before, "samples must survive the durable plane")
    drop("hist_rt")
  }

  test("equi-height histogram isolates heavy hitters into their own mass") {
    // 900× value 0, then 1..100 once each — the heavy value must
    // dominate the early bins with ndv 1
    val sk = new SampleSketch()
    (1 to 900).foreach(_ => sk.add(0.0))
    (1 to 100).foreach(i => sk.add(i.toDouble))
    val hist = MemScan.equiHeightHistogram(
      Seq((sk.values, 1000.0 / sk.values.length)), globalNdv = 101L).get
    val bins = hist.bins()
    assert(bins.nonEmpty && bins.length <= 32)
    val heavy = bins.head
    assert(heavy.lo() === 0.0 && heavy.hi() === 0.0 && heavy.ndv() === 1L,
      s"heavy hitter must own its bin: lo=${heavy.lo()} hi=${heavy.hi()} ndv=${heavy.ndv()}")
    // bins cover the domain in order and ndv sums near the global
    assert(bins.map(_.ndv()).sum >= 50L)
    assert(bins.sliding(2).forall {
      case Array(a, b2) => a.hi() <= b2.lo(); case _ => true })
  }

  test("a skewed-key join's CBO estimate moves toward truth with histograms") {
    catalogOn(); drop("hist_fact", "hist_dim")
    spark.sql("CREATE TABLE graft.hist_fact (k BIGINT)")
    spark.sql("CREATE TABLE graft.hist_dim (k BIGINT)")
    // fact: 900× k=0 plus k=1..100 once; dim: 50× k=0 plus k=1..100 once
    spark.sql("INSERT INTO graft.hist_fact " +
      "SELECT CASE WHEN id < 900 THEN 0 ELSE id - 899 END FROM range(0, 1000)")
    spark.sql("INSERT INTO graft.hist_dim " +
      "SELECT CASE WHEN id < 50 THEN 0 ELSE id - 49 END FROM range(0, 150)")
    val truth = 900L * 50L + 100L // 45,100
    def estimate(): BigInt = {
      val df = spark.table("graft.hist_fact").as("f")
        .join(spark.table("graft.hist_dim").as("d"), "k")
      df.queryExecution.optimizedPlan.stats.rowCount.getOrElse(BigInt(-1))
    }
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val withHist = estimate()
      spark.conf.set("spark.graft.stats.histograms", "false")
      val withoutHist = try estimate()
      finally spark.conf.unset("spark.graft.stats.histograms")
      // NDV-only estimation assumes uniform keys: ~1000×150/101 ≈ 1.5k.
      // The histogram sees the 0-key mass on both sides and lands in the
      // tens of thousands. Direction is the contract, not exact values.
      assert(withoutHist > 0 && withHist > 0,
        s"hist=$withHist flat=$withoutHist")
      assert(withHist > withoutHist * 5,
        s"histograms must lift the skewed estimate: $withHist vs $withoutHist")
      assert((BigInt(truth) - withHist).abs < (BigInt(truth) - withoutHist).abs,
        s"estimate must move toward truth: hist=$withHist flat=$withoutHist truth=$truth")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
    drop("hist_fact", "hist_dim")
  }

  test("a skewed STRING-key join's estimate moves toward truth (skew NDV)") {
    // catalyst cannot consume a string histogram (its join estimator
    // crashes on one — see SampleSketch.stringDouble), so string skew
    // travels through the effective-NDV channel instead: the inverse
    // Simpson index from the per-batch string samples, severity-gated
    catalogOn(); drop("sk_fact", "sk_dim")
    spark.sql("CREATE TABLE graft.sk_fact (k STRING)")
    spark.sql("CREATE TABLE graft.sk_dim (k STRING)")
    // fact: 900× 'hot' plus u1..u100 once; dim: 50× 'hot' plus u1..u100
    spark.sql("INSERT INTO graft.sk_fact SELECT CASE WHEN id < 900 " +
      "THEN 'hot' ELSE concat('u', id - 899) END FROM range(0, 1000)")
    spark.sql("INSERT INTO graft.sk_dim SELECT CASE WHEN id < 50 " +
      "THEN 'hot' ELSE concat('u', id - 49) END FROM range(0, 150)")
    val truth = 900L * 50L + 100L // 45,100
    def estimate(): BigInt = {
      val df = spark.table("graft.sk_fact").as("f")
        .join(spark.table("graft.sk_dim").as("d"), "k")
      df.queryExecution.optimizedPlan.stats.rowCount.getOrElse(BigInt(-1))
    }
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val withSkew = estimate()
      spark.conf.set("spark.graft.stats.string-skew-ndv", "false")
      val withoutSkew = try estimate()
      finally spark.conf.unset("spark.graft.stats.string-skew-ndv")
      // uniform NDV estimation reads ~1000×150/101 ≈ 1.5k; the skew-aware
      // NDV sees the 'hot' mass on both sides and lands in the tens of
      // thousands. Direction is the contract, not exact values.
      assert(withoutSkew > 0 && withSkew > 0,
        s"skew=$withSkew flat=$withoutSkew")
      assert(withSkew > withoutSkew * 4,
        s"skew NDV must lift the estimate: $withSkew vs $withoutSkew")
      assert((BigInt(truth) - withSkew).abs < (BigInt(truth) - withoutSkew).abs,
        s"estimate must move toward truth: skew=$withSkew " +
          s"flat=$withoutSkew truth=$truth")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
    drop("sk_fact", "sk_dim")
  }

  test("near-uniform string columns keep their exact NDV (severity gate)") {
    catalogOn(); drop("sk_uni")
    spark.sql("CREATE TABLE graft.sk_uni (s STRING)")
    spark.sql("INSERT INTO graft.sk_uni SELECT concat('v', id) FROM range(0, 1000)")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.table("graft.sk_uni").queryExecution.optimizedPlan.stats
      val s = stats.attributeStats.map { case (a, st) => a.name -> st }.apply("s")
      // all-distinct: the sampled inverse Simpson saturates at the sample
      // size — the gate must reject it and keep the true count
      assert(s.distinctCount.exists(_ >= BigInt(900)),
        s"uniform string NDV must stay exact, got ${s.distinctCount}")
      assert(s.histogram.isEmpty, "string column keeps no catalyst histogram")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
    drop("sk_uni")
  }

  test("histograms reach the catalyst plan and respect the off switch") {
    catalogOn(); drop("hist_plan")
    spark.sql("CREATE TABLE graft.hist_plan (k BIGINT, s STRING)")
    spark.sql("INSERT INTO graft.hist_plan SELECT id % 10, 'x' FROM range(0, 100)")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.table("graft.hist_plan").queryExecution.optimizedPlan.stats
      val byName = stats.attributeStats.map { case (a, s) => a.name -> s }
      assert(byName("k").histogram.isDefined, "numeric column: histogram expected")
      assert(byName("s").histogram.isEmpty, "string column keeps no histogram")
      spark.conf.set("spark.graft.stats.histograms", "false")
      try {
        val off = spark.table("graft.hist_plan").queryExecution.optimizedPlan.stats
        val kOff = off.attributeStats.map { case (a, s) => a.name -> s }.apply("k")
        assert(kOff.histogram.isEmpty, "the off switch must suppress histograms")
      } finally spark.conf.unset("spark.graft.stats.histograms")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
    drop("hist_plan")
  }
}
