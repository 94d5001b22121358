package graft

import org.apache.spark.sql.SparkSession

/** The one place the harness SparkSession is configured — Bench, Verify,
  * and Profile must stay in lock-step or a drifting copy silently loses a
  * load-bearing setting (the codegen-cache conf below is worth 6-17x on
  * the timed suite and is STATIC, so it must precede session creation).
  */
object GraftSession {

  /** The fork-free `file://` filesystem (graft.io.LocalFs) for both Hadoop
    * APIs: `FileSystem` (sink part files, `_temporary`, `_SUCCESS`, state
    * deltas) and `FileContext` (the streaming offset and commit logs).
    * Stock Hadoop without libhadoop forks `chmod`/`readlink` per file:
    * one perfbench ingest_rollup run started 5,856 processes with the
    * stock classes and 11 with these, none of them for a file. Only the
    * `file` scheme changes. Test sessions take the same map. Set before
    * the session exists: the JVM-wide FileSystem cache keeps whichever
    * `file` class it saw first.
    */
  val localFs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[graft.io.ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.io.ForkFreeLocalFs].getName)

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config(localFs)
      .config("spark.sql.shuffle.partitions", cpus)
      // let AQE size shuffles by the DATA, not the core count: partitions
      // can only be coalesced DOWN from the initial number, so a fixed 32
      // silently forces giant spilling partitions once a shuffle outgrows
      // it (measured on the 10x jaccard stress: the pair-verify shuffle
      // at 8x this conf's ceiling). Small queries still coalesce to a
      // handful of partitions — this raises the ceiling, not the floor.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // static conf: the default 100-entry Janino cache thrashes across a
      // 60-query suite (~300 codegen units per pass), evicting warmup
      // compilations before the timed pass
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // set at build time so Tables.events' runtime fallback never mutates
      // a session mid-flight
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // runtime bloom-filter join pruning: when a selective predicate sits
      // on one side of a SHUFFLE join, inject a bloom filter of its join
      // keys into the other side's scan — at 100 TB this prunes most of a
      // fact-fact join's probe-side shuffle. Fires only past the
      // application-side scan threshold (10 GB default), so local-fixture
      // plans are untouched; injection itself is plan-pinned in
      // PlanShapeSpec under lowered thresholds.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // let AQE swap SortMergeJoin -> ShuffledHashJoin from MEASURED
      // partition sizes: the pair-family self-joins (shingles, grams)
      // re-shuffle their output immediately, so the SMJ's two full sorts
      // buy nothing — but a static SHUFFLE_HASH hint also overrides the
      // broadcast pick at small scale (measured +0.9 s on q_dedup_jaccard
      // at sf0.1). Runtime selection takes broadcast when tiny, hash when
      // the per-partition build fits, sort-merge only past that.
      // SIZING RULE (the threshold is COMPRESSED shuffle bytes; the hash
      // map is NOT spillable): threshold x concurrent tasks x ~5x object
      // expansion must fit the heap. 32 threads on a 24g heap -> 32m
      // (128m OOMed the 100x pair-family stress at exactly this join).
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "32m")
      // let AQE size CACHED plans' output partitioning by the data too
      // (r17): default-off only to keep pre-AQE co-partitioning
      // assumptions; here every cached frame is operator-internal and its
      // consumers take partitioning from the plan, not a convention. OFF,
      // a cached repartition(col) pins initialPartitionNum (256) tiny
      // partitions and every downstream stage schedules 256 micro-tasks
      // per round (the iterative operators' dominant fixed cost at sf;
      // at 100 TB the same conf lets the cache land guide-§2.2-sized
      // partitions instead of whatever the initial number was).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
}
