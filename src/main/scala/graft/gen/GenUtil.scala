package graft.gen

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic value-generation primitives.
  *
  * Everything is a pure function of the global row id (`spark.range` ids)
  * hashed with a per-column tag — NEVER rand(). This gives dbgen's
  * partition-count invariance (/root/reference/src/tpch.rs:69-72: chunk i of
  * N always produces the same global dataset): any repartitioning yields the
  * same multiset, and a 1000-executor run generates byte-identical data to a
  * laptop run. All primitives are Catalyst built-ins → whole-stage codegen.
  */
object GenUtil {
  /** 64-bit deterministic stream: xxhash64(id, tag). */
  def h(tag: Int): Column = xxhash64(col("id"), lit(tag))
  def h(c: Column, tag: Int): Column = xxhash64(c, lit(tag))

  /** Uniform long in [lo, hi] (inclusive). */
  def uniLong(tag: Int, lo: Long, hi: Long): Column =
    pmod(h(tag), lit(hi - lo + 1)) + lit(lo)
  def uniLong(c: Column, tag: Int, lo: Long, hi: Long): Column =
    pmod(h(c, tag), lit(hi - lo + 1)) + lit(lo)

  /** Uniform double in [0, 1). */
  def unif(tag: Int): Column =
    pmod(h(tag), lit(1000000000L)).cast(DoubleType) / 1e9
  def unif(c: Column, tag: Int): Column =
    pmod(h(c, tag), lit(1000000000L)).cast(DoubleType) / 1e9

  /** Money in [lo, hi] with 2 decimals, as Decimal(11,2). */
  def money(tag: Int, lo: Double, hi: Double): Column =
    ((pmod(h(tag), lit(((hi - lo) * 100).toLong + 1)) +
      lit((lo * 100).toLong)).cast(DecimalType(13, 0)) / 100).cast(DecimalType(11, 2))

  /** Deterministic pick from a fixed word list. */
  def pick(tag: Int, words: Seq[String]): Column =
    element_at(array(words.map(lit): _*), (pmod(h(tag), lit(words.size)) + 1).cast(IntegerType))
  def pick(c: Column, tag: Int, words: Seq[String]): Column =
    element_at(array(words.map(lit): _*), (pmod(h(c, tag), lit(words.size)) + 1).cast(IntegerType))

  /** 2–`max` word comment text. */
  def words(tag: Int, max: Int, vocab: Seq[String]): Column = {
    val picks = (0 until max).map(i => pick(tag * 31 + i, vocab))
    array_join(slice(array(picks: _*), lit(1),
      (pmod(h(tag), lit(max - 1)) + 2).cast(IntegerType)), " ")
  }

  /** dbgen-shaped comment (1–2 grammar sentences from dbgen-flavored word
    * lists) — delegates to the CommentText native expression: the Column
    * formulation (16 literal-array picks + conditional second sentence)
    * pushed whole-table codegen past HotSpot's 8 KB JIT limit. */
  def comment(tag: Int): Column = CommentText.column(col("id"), tag)

  /** Date = base + uniform [0, span) days. */
  def date(tag: Int, base: String, spanDays: Int): Column =
    date_add(lit(base).cast(DateType), pmod(h(tag), lit(spanDays)).cast(IntegerType))
  def date(c: Column, tag: Int, base: String, spanDays: Int): Column =
    date_add(lit(base).cast(DateType), pmod(h(c, tag), lit(spanDays)).cast(IntegerType))

  /** Phone like 25-989-741-2988. */
  def phone(tag: Int): Column = concat(
    (pmod(h(tag), lit(25)) + 10).cast(StringType), lit("-"),
    (pmod(h(tag + 1), lit(900)) + 100).cast(StringType), lit("-"),
    (pmod(h(tag + 2), lit(900)) + 100).cast(StringType), lit("-"),
    (pmod(h(tag + 3), lit(9000)) + 1000).cast(StringType))

  /** Rows of a table's id range per written part, at most. A part is one
    * task, and a task pays a fixed cost whatever its size (its split is in
    * [[TpcdsGen]]'s scale design). 50,000 keeps the sf0.1 store_sales
    * cache at 6 files, so its scans still use every core of a 4-core host;
    * a floor of one file per table (1M rows) measured the store_sales-only
    * q28 ×1.19 slower there. A constant, like
    * [[graft.plans.Fanout.poolSize]]: it sizes work units, and results do
    * not depend on it. */
  val rowsPerPartition = 50000L

  /** Parts to write a table of `rows` range ids in when the caller asks for
    * `requested`: one per [[rowsPerPartition]] rows, never more than
    * `requested`, never fewer than one. Every generation writer sizes its
    * tables here; `table` keeps the exact count its caller
    * passes. */
  def partitionsFor(rows: Long, requested: Int): Int =
    math.max(1L, math.min(requested.toLong,
      if (rows <= 0) 0 else (rows - 1) / rowsPerPartition + 1)).toInt

  val vocab: Seq[String] = Seq("blithely", "bold", "carefully", "quickly",
    "slyly", "furiously", "ironic", "final", "express", "regular", "special",
    "pending", "even", "silent", "deposits", "requests", "accounts", "packages",
    "theodolites", "instructions", "platelets", "foxes", "ideas", "dependencies")

  /** A clone of `spark` with whole-stage codegen off, to plan generation
    * writes on. Generation jobs are pure wide projections over
    * spark.range: fused whole-stage methods for the 23-34-column tables
    * exceed HotSpot's 8 KB JIT limit and run interpreted, while the
    * non-fused path splits per-expression into small JIT-able methods.
    * Re-measured after the staged-projection refactor (which fixed the
    * 64 KB janino fallback in BOTH modes): non-fused still wins on the
    * widest facts (sf1 store_sales 5.97 s vs 6.89 s fused), and the CLI
    * sf1 full run dropped 126 s → 22.5 s once projections stopped
    * evaluating interpreted. Queries keep WSCG: operator fusion matters
    * there and their methods are small.
    *
    * The setting goes on a clone, never on `spark`: a query another thread
    * plans on the caller's session during a generation keeps whole-stage
    * codegen, and overlapping generations cannot restore the flag out of
    * order. The clone shares `spark`'s SparkContext, so jobs keep the
    * calling thread's job group and local properties.
    *
    * The clone is kept and reused while `spark` and its conf stay the
    * same, because every Spark session runs its tasks under its own
    * executor class loader, and Spark's generated-class cache is keyed by
    * class loader: a fresh clone per call compiled all 61 generated
    * classes of a TPC-DS generation again on every pass (sf0.01, local[4]:
    * task CPU per warm pass 4–5.5 s → 7.7–9 s), and the ingest benchmark's
    * retained heap grew 72 → 80 MB. A conf change on `spark` makes the next
    * call clone it afresh. */
  def generationSession(spark: SparkSession): SparkSession = synchronized {
    val conf = spark.conf.getAll
    lastGeneration.collect { case (s, c, gen) if (s eq spark) && c == conf => gen }.getOrElse {
      val gen = GraftColumnBridge.cloneSession(spark)
      gen.conf.set("spark.sql.codegen.wholeStage", "false")
      lastGeneration = Some((spark, conf, gen))
      gen
    }
  }
  private var lastGeneration: Option[(SparkSession, Map[String, String], SparkSession)] = None

  /** Render a DataFrame as the reference's raw pipe-delimited layout:
    * `{out}/{table}.{ext}/part-*.{ext}` (src/tpch.rs:102,123). `trailingPipe`
    * reproduces dbgen's trailing '|' on every row (SURVEY §1.2). */
  def writeRaw(df: DataFrame, outDir: String, table: String, ext: String,
               trailingPipe: Boolean): Unit = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DateType => date_format(col(f.name), "yyyy-MM-dd")
        case _        => col(f.name).cast(StringType)
      }
    }
    val line = if (trailingPipe) concat(concat_ws("|", cols.toIndexedSeq: _*), lit("|"))
               else concat_ws("|", cols.toIndexedSeq: _*)
    df.select(line.as("value")).write
      .format("text").save(s"$outDir/$table.$ext")
  }

  /** Reference part-layout flatten (src/lib.rs:85-115): dbgen's parallel
    * children write `table.tbl.N` chunks and the reference flattens them
    * into the output dir with CONTIGUOUS sequential part numbering. Spark
    * names parts per task (`part-00007-<uuid>`) — documented deviation
    * SURVEY §1.4, closed r15 as an opt-in: this renames a just-written
    * raw table's parts, sorted by task index (Spark's zero-padded task
    * number prefix makes lexicographic = task order), to the reference's
    * `part-<i>.<ext>` layout. Driver-side FS renames only — no data pass;
    * content is already partition-count-invariant (GenSpec), so the
    * flatten is pure naming.
    *
    * Idempotent and crash-safe (r15 ADVICE): parts are ordered by their
    * NUMERIC part index (Spark's zero-padded task number, or a previous
    * flatten's bare index — lexicographic order breaks at part-10 vs
    * part-2 on re-run) and renamed through a `.tmpseq` namespace in two
    * phases, so re-flattening an already-flattened table can never
    * collide a move onto an existing `part-K.<ext>`. A missing table dir
    * (a benchmark subset generation) is skipped, not thrown.
    *
    * Deliberately java.nio (POSIX-local): the flatten — like the
    * reference's (src/lib.rs:91-115) — is a single-host/shared-POSIX-mount
    * post-processing step over a local raw output dir, and so is the
    * GenCache lock protocol. Remote URIs (`hdfs:`/`s3a:`) are out of
    * scope here by design; Convert's read-side guards, by contrast, go
    * through the Hadoop FileSystem API and accept any scheme. */
  def sequentialParts(outDir: String, table: String, ext: String): Unit = {
    import java.nio.file.{Files, Paths}
    val d = Paths.get(s"$outDir/$table.$ext")
    if (!Files.isDirectory(d)) return
    // recover stragglers from a crash between the two phases below
    locally {
      val s = Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".tmpseq")).toVector
          .foreach { t =>
            val fin = t.getFileName.toString.stripSuffix(".tmpseq")
            Files.move(t, d.resolve(fin),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
      } finally s.close()
    }
    val st = Files.list(d)
    val parts = try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("part-") && !n.endsWith(".crc") && !n.endsWith(".tmpseq")
      }.toVector.sortBy { p =>
        // numeric task/part index: "part-00007-<uuid>…" or "part-7.<ext>"
        val n = p.getFileName.toString.drop("part-".length)
        val digits = n.takeWhile(_.isDigit)
        (if (digits.isEmpty) Long.MaxValue else digits.toLong,
         p.getFileName.toString)
      }
    } finally st.close()
    // phase 1: move every part aside — no target can collide with a source
    val staged = parts.zipWithIndex.map { case (p, i) =>
      val t = d.resolve(s"part-$i.$ext.tmpseq")
      Files.move(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      (t, i)
    }
    // phase 2: drop the temp suffix (a crash between phases leaves only
    // .tmpseq names, which a re-run re-lists as non-parts — re-runnable
    // by clearing the suffix; never a half-renamed part-K collision)
    staged.foreach { case (t, i) =>
      Files.move(t, d.resolve(s"part-$i.$ext"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
