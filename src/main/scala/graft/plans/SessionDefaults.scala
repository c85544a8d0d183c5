package graft.plans

import org.apache.spark.sql.SparkSession

/** Engine-level session defaults (r18 optimization round).
  *
  * Strategy-only settings — none of them can change what a query computes,
  * only which physical operator computes it — applied uniformly to the
  * contract surfaces (Bench / Verify / CLI) and the measurement tools, so
  * the plans the bench times are the plans the gate verifies.
  *
  * `preferSortMergeJoin=false` + the AQE shuffled-hash rewrite threshold
  * implement the optimization guide's join preference order (§3.1: "often
  * faster than sort-merge when one side is moderately small per partition";
  * §9 ships exactly this pair as the reasonable baseline). Measured r18 on
  * the join-heavy subset (sf0.1, local[32], warm medians of 5): q64
  * 3.63→3.04 s, q23 1.78→1.42, q23b 2.16→1.64, q14 2.26→1.74; every other
  * subset query within noise (OPTIMIZATION_r18.md §config). The win is the
  * removed per-partition sorts on fact⋈fact joins — which also holds at
  * scale, where those sorts spill.
  *
  * OOM posture at 100 TB (the guide's stated risk for shuffled-hash): the
  * engine keys every fact shuffle at ≤128 MiB of compressed input per
  * partition ([[ShuffleScale]], partitions ∝ data), so a build-side
  * partition is bounded a few × that uncompressed; the AQE local-map
  * threshold is set to the same 128 MiB budget, AQE skew-join splitting
  * applies to shuffled-hash joins exactly as to sort-merge, and the static
  * planner only picks the hash build when its size conditions
  * (canBuildLocalHashMap + muchSmaller) hold. A deployment that still
  * prefers sort-merge's graceful-spill guarantee flips the conf back — a
  * system property `-Dspark.sql.join.preferSortMergeJoin=true` (or any
  * explicit setting of a key below) wins over these defaults.
  *
  * Queries whose DECLARED identity is a specific join strategy pin it
  * explicitly and are immune to session defaults: q_join_bcast broadcasts,
  * q_join_sm carries hint("merge"), the dedup/simhash self-joins carry
  * hint("merge") (a corpus-sized side must never hash-build).
  *
  * CODEGEN CACHE. `spark.sql.codegen.cache.maxEntries` bounds Spark's own
  * cache of Janino-compiled classes (default 100). graft re-runs the same
  * declared queries in long-lived sessions (Bench's passes, Verify, a
  * re-running pipeline), and its working set is larger than 100. Measured
  * at sf0.1, local[4]: the benchmark's 9-query slice compiles 127 classes
  * per pass, the full 242-query suite 2,745 (the sf0.01 ingest pass 80).
  * At 100 entries every warm pass compiled its code again and re-warmed
  * the JIT: 120 classes per slice pass (6.3 → 4.3 s per pass at 4096, where
  * it compiles none), 3,604 per suite pass (164 → 110 s at 4096, where 96
  * remain, see below). 4096 is the suite's working set with headroom. Its
  * cost is heap: ~30 KB retained per cached class, +79 MB for the whole
  * suite, at most ≈120 MB at the cap.
  *
  * It is a STATIC conf: `CodeGenerator` sizes its cache once per JVM, at the
  * first compile, from that thread's conf. So it only takes effect when
  * the JVM's first session sets it — every surface that builds its session
  * through [[tuned]] does; a later session in the same JVM cannot resize
  * it. A `-Dspark.sql.codegen.cache.maxEntries=…` still wins, as for every
  * key here.
  *
  * Even unbounded, 21 queries of the suite compile again on a second
  * construction (the 96 classes above). Diffing the generated code of
  * two constructions found no value graft puts into a plan per
  * construction; the causes are Spark's own:
  *  - AQE creates query stages in the order their inputs finish, and
  *    whole-stage codegen numbers stages in that order. The id is part of
  *    the class name (`GeneratedIteratorForCodegenStageN`, kept by
  *    `spark.sql.codegen.useIdInClassName`), so the same code under another
  *    id is a new cache key (q_text_tfidf, TPC-H q2, TPC-DS q2, q5, q23,
  *    q30, q38, q59, q77, q78, q80, q81).
  *  - AQE re-plans with whichever stages have finished at re-optimization
  *    time, so a join's build side, or whether a broadcast fuses into its
  *    probe stage, follows stage completion order (TPC-H q2, TPC-DS q2,
  *    q4, q11, q30, q38, q39, q39b, q59, q64, q75).
  *  - RewriteDistinctAggregates numbers its Expand groups in hash order of
  *    the distinct children, whose expression ids are fresh per
  *    construction (q28's six count-distinct buckets: the gid literals
  *    move).
  *
  * LOCAL FILESYSTEM. `fs.file.impl` is [[graft.io.NioLocalFileSystem]].
  * Without the native-hadoop library (stock Spark ships none), Hadoop's
  * local FileSystem forks `chmod` for every file, `.crc` file and
  * directory a write creates, and `ls -ld` for every status whose
  * permission is read — a process per file on graft's write path
  * (generation, conversion, result dumps) and per listed file on reads.
  * graft's class does both through java.nio in the JVM, with the same
  * bits and checksums. Measured on the `ingest-sf0.01` benchmark (4-core
  * host; PIDs allocated per run, read from the PID namespace's last-issued
  * id, threads included): 5,046–5,414 → 491–561 per 3-pass run, 9,538 →
  * 925 per traced 6-pass run; the warm pass fell 8.86 → 7.21 s (medians of
  * 3) on top of the per-table fan-out. Like the codegen cache it is
  * fixed for the JVM by its first `file:` access (Hadoop caches one
  * instance per scheme and user), so a session built without [[tuned]]
  * after one built with it still gets graft's class, and the reverse.
  *
  * EXTENSIONS. `spark.sql.extensions` names
  * [[graft.functions.GraftExtensions]], so the mains plan what the tests
  * plan: graft's SQL functions resolve, [[SingleRowAttach]] attaches every
  * 1-row side by a broadcast hash join instead of a nested loop, and
  * [[JoinGuardRule]] is there to arm. Without it a TPC text that attaches
  * a scalar aggregate by a comma join (q9, q44, q61, q77) would plan a
  * nested loop in Bench and Verify while the tests saw a hash join. Like
  * every key here, a `-Dspark.sql.extensions=…` set by a deployment wins,
  * and so replaces graft's extension; the comma-separated form
  * `-Dspark.sql.extensions=graft.functions.GraftExtensions,other.Ext`
  * keeps both.
  */
object SessionDefaults {
  /** Spark's own generated-class cache bound (a static conf; declared
    * before [[defaults]], which lists it). */
  val codegenCache: (String, String) = "spark.sql.codegen.cache.maxEntries" -> "4096"

  /** graft's fork-free `file:` FileSystem (a static choice for the JVM:
    * Hadoop caches one `file:` instance per user; declared before
    * [[defaults]], which lists it). */
  val localFs: (String, String) =
    "spark.hadoop.fs.file.impl" -> classOf[graft.io.NioLocalFileSystem].getName

  /** graft's session extension: its SQL functions, [[SingleRowAttach]]
    * and [[JoinGuardRule]] (a static conf, read when the session is built;
    * declared before [[defaults]], which lists it). */
  val extensions: (String, String) =
    "spark.sql.extensions" -> classOf[graft.functions.GraftExtensions].getName

  val defaults: Seq[(String, String)] = Seq(
    // pin ANSI mode (Spark 4's default) explicitly: the long-cents sum
    // rewrites (Tpcds.centsL) document "an overflow throws loudly" as
    // their failure mode, which is only true under ANSI — with it off a
    // long overflow wraps silently. The conf-injection seam
    // (SPARK_GRAFT_CONF / -D overrides) could otherwise flip it; centsL
    // additionally asserts it at query-construction time (r19, ADVICE).
    "spark.sql.ansi.enabled" -> "true",
    // allow shuffled-hash join when the planner's size conditions hold
    // (guide §3.1/§9) — removes the per-partition sorts of sort-merge
    "spark.sql.join.preferSortMergeJoin" -> "false",
    // AQE runtime SMJ→SHJ rewrite when every post-shuffle partition is
    // under the ShuffleScale per-partition budget (default 0 = off)
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" ->
      String.valueOf(ShuffleScale.targetBytesPerPartition),
    // keep the whole codegen working set compiled across passes (see the
    // scaladoc's codegen cache section) — Spark's default is 100 entries
    codegenCache,
    // set and read local file permissions in-process, not by forking
    // chmod / ls (see the scaladoc's local FileSystem section)
    localFs,
    // graft's functions and plan rules (see the scaladoc's extensions
    // section)
    extensions)

  /** Apply [[defaults]] to a session builder. A key already present as a
    * system property (the SPARK_GRAFT_CONF A/B harness, or an operator's
    * explicit -D override) is left to that value — defaults never shadow a
    * deliberate setting. */
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    unlessSet(defaults).foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  private def unlessSet(kvs: Seq[(String, String)]): Seq[(String, String)] =
    kvs.filterNot { case (k, _) => sys.props.contains(k) }

  /** Task slots of a [[session]]: `SPARK_GRAFT_CPUS`, else every core. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** Every conf [[session]] sets, in order: [[defaults]], one shuffle
    * partition per task slot, UTC, no UI, then the caller's `extra`. As in
    * [[tuned]], a key set as a system property is left out, so the
    * property wins. */
  def settings(extra: Seq[(String, String)]): Seq[(String, String)] =
    unlessSet(defaults ++ Seq(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ extra)

  /** The one session factory of graft's mains (Bench, Verify, the CLI and
    * every `graft.tools.Diag` subcommand), so each times and checks the
    * engine the others do: master `SPARK_MASTER` (e.g.
    * `local-cluster[4,8,4096]`), else `local[`[[cpus]]`]`, the confs of
    * [[settings]], log level WARN. */
  def session(extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder().appName("graft")
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
    val spark = settings(extra).foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
