package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.operators.{Layout, MatrixOps}

/** One timed operation. A query is timed in three phases (declare,
  * plan, execute); a write is one call, timed as its execute phase.
  * `checkKey` names the output check whose verdict applies to it. */
sealed trait Op { def name: String; def checkKey: String }
final case class QueryOp(name: String, checkKey: String, declare: () => DataFrame) extends Op
final case class WriteOp(name: String, checkKey: String, run: () => Unit) extends Op

final case class Check(key: String, ok: Boolean, detail: String)

trait Workload {
  /** One set-up repetition: builds the inputs and state from scratch,
    * including the index builds and memos that declaring the ops
    * triggers. */
  def prepare(rep: Int): Unit
  /** Untimed work before each pass. */
  def beforePass(): Unit = ()
  /** The op list of one pass, in the order it runs. */
  def ops(pass: Int): Seq[Op]
  /** Untimed passes of the op list before timing: the first passes run
    * well above the steady state while the JIT settles. */
  def warmPasses: Int = 1
  /** Timed passes a run makes however fast they go, so every run
    * pools at least `minPasses * ops(_).size` op samples. */
  def minPasses: Int = 1
  /** The output check, off the clock after the timed passes, so it
    * also sees any state the timed passes left behind. */
  def check(): Seq[Check]
  /** Untimed work after each pass, such as noting what the pass left
    * for [[check]] to compare. */
  def afterPass(): Unit = ()
  /** Workload facts the report needs (flops, ingested bytes, ...). */
  def facts(): Map[String, Any] = Map.empty
  /** Facts of the state a pass left behind. */
  def passFacts(): Map[String, Any] = Map.empty
}

/** Workloads run as one: every pass runs the ops of each in turn. */
final class Combined(parts: Seq[Workload], override val warmPasses: Int,
                     override val minPasses: Int) extends Workload {
  def prepare(rep: Int): Unit = parts.foreach(_.prepare(rep))
  override def beforePass(): Unit = parts.foreach(_.beforePass())
  def ops(pass: Int): Seq[Op] = parts.flatMap(_.ops(pass))
  def check(): Seq[Check] = parts.flatMap(_.check())
  override def afterPass(): Unit = parts.foreach(_.afterPass())
  override def facts(): Map[String, Any] = parts.map(_.facts()).reduce(_ ++ _)
  override def passFacts(): Map[String, Any] = parts.map(_.passFacts()).reduce(_ ++ _)
}

object Workloads {
  /** Short declared queries over the fixed tables, where fixed
    * per-query cost dominates, plus the word-Jaccard pair generation of
    * the dedup family. The list is sized so a pass takes a few seconds
    * on a 4-core host and a run fits its time budget. */
  val Catalog: Seq[String] = Seq(
    "q1_agg", "q6_forecast", "events_by_type", "doc_stats",
    "dedup_jaccard_pairs")

  /** `matmul` is the paper's multiplication core; `pipeline` is the data
    * pipeline around it: the catalog queries, then the lake ingest. */
  def apply(name: String, spark: SparkSession, env: Env): Workload = name match {
    case "matmul" => new MatmulWorkload(spark, env.seed)
    case "pipeline" =>
      new Combined(Seq(new QueryWorkload(spark, env, Catalog), new LakeWorkload(spark, env)),
        warmPasses = 1, minPasses = 4)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def copyTree(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally walk.close()
  }

  def shuffled[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(xs)
}

/** Where a run reads its fixed tables and writes everything else. */
final case class Env(dataDir: String, workDir: String, seed: Long,
                     expected: Map[String, Checks.Digest])

/** Declared queries from `SparkEntry.queries` over the fixed tables.
  * Each set-up repetition registers a fresh copy of the tables, so
  * schema inference and any per-directory memo or index build of the
  * queries run again. The seed permutes the op order of each pass. */
final class QueryWorkload(spark: SparkSession, env: Env, names: Seq[String])
    extends Workload {
  private val queries = SparkEntry.queries
  names.foreach(n => require(queries.contains(n), s"query not declared: $n"))
  private var dir = ""

  def prepare(rep: Int): Unit = {
    val d = Paths.get(env.workDir, s"tables-r$rep")
    Workloads.deleteTree(d)
    Workloads.copyTree(Paths.get(env.dataDir), d)
    dir = d.toString
    // a declaration that fails here fails again, and is counted, when timed
    names.foreach(n => Try(queries(n)(spark, dir)))
  }

  def ops(pass: Int): Seq[Op] = Workloads.shuffled(names, env.seed, pass)
    .map(n => QueryOp(n, n, () => queries(n)(spark, dir)))

  def check(): Seq[Check] = names.map { n =>
    Try(Checks.digest(queries(n)(spark, dir))) match {
      case Success(got) => env.expected.get(n) match {
        case Some(want) => Check(n, got == want, s"want $want got $got")
        case None => Check(n, ok = false, s"no expected digest; got $got")
      }
      case Failure(e) => Check(n, ok = false, e.toString)
    }
  }

  def digests(): Map[String, Checks.Digest] =
    names.map(n => n -> Checks.digest(queries(n)(spark, dir))).toMap
}

/** The paper's matmul grid on seeded generated matrices, no table I/O.
  * The seed feeds the generators. */
final class MatmulWorkload(spark: SparkSession, seed: Long) extends Workload {
  private val Blocked = (768L, 256)
  private val Spmm = (512L, 0.05)
  private val Coord = 128L

  private def a(n: Long) = MatrixOps.genDense(spark, n, seed)
  private def b(n: Long) = MatrixOps.genDense(spark, n, seed + 1)
  private def sparseA = MatrixOps.genSparse(spark, Spmm._1, Spmm._2, seed)

  /** name -> (A, B, C builder, n) */
  private def grid: Seq[(String, () => DataFrame, () => DataFrame, () => DataFrame, Long)] = {
    val (nb, bs) = Blocked
    Seq(
      (s"blocked_n${nb}_bs$bs", () => a(nb), () => b(nb),
        () => MatrixOps.multiplyBlocked(spark, a(nb), b(nb), nb, bs), nb),
      (s"spmm_n${Spmm._1}_d${Spmm._2}", () => sparseA, () => b(Spmm._1),
        () => MatrixOps.multiply(sparseA, b(Spmm._1), broadcastRight = true), Spmm._1),
      (s"basic_n$Coord", () => a(Coord), () => b(Coord),
        () => MatrixOps.multiply(a(Coord), b(Coord)), Coord),
      (s"transposed_n$Coord", () => a(Coord), () => b(Coord),
        () => MatrixOps.multiplyTransposed(a(Coord), MatrixOps.transpose(b(Coord))), Coord),
      // A = B, the same-seed case of the paper's parallel stage
      (s"square_n$Coord", () => a(Coord), () => a(Coord),
        () => MatrixOps.multiply(a(Coord), a(Coord)), Coord))
  }

  def prepare(rep: Int): Unit = grid.foreach { case (_, _, _, c, _) => Try(c()) }

  override def warmPasses: Int = 2
  override def minPasses: Int = 7

  def ops(pass: Int): Seq[Op] = Workloads.shuffled(grid, seed, pass)
    .map { case (name, _, _, c, _) => QueryOp(name, name, c) }

  def check(): Seq[Check] = grid.map { case (name, fa, fb, fc, n) =>
    Try(Checks.freivalds(spark, fa(), fb(), fc(), n, seed ^ 0x5eedL)) match {
      case Success((ok, detail)) => Check(name, ok, detail)
      case Failure(e) => Check(name, ok = false, e.toString)
    }
  }

  /** 2n^3 per dense product, 2*nnz*n for the sparse one. */
  override def facts(): Map[String, Any] = {
    val flops = grid.map { case (name, fa, _, _, n) =>
      val nnz = if (name.startsWith("spmm")) fa().count() else n * n
      name -> 2.0 * nnz * n
    }.toMap
    Map("flops" -> flops)
  }
}

/** Writes beside reads: a manifest-tracked event lake of the shape the
  * declared query `manifest_pruned_scan` serves from. Set-up builds the lake
  * over the id-lower half of the events table; each pass restores that
  * base untimed, serves, appends one seed-chosen id-upper batch and
  * serves, then compacts and serves again. A read-path cache that goes stale
  * after a write or a compaction fails the output check here. */
final class LakeWorkload(spark: SparkSession, env: Env) extends Workload {
  private val Slices = 10
  private val Cols = Seq("user_id", "value")
  private val Ranges = Seq(("user_id", 3.0, 7.0), ("value", 40.0, 160.0))

  private val events = Tables.events(spark, env.dataDir)
    .select("event_id", "user_id", "event_type", "value")

  private var root: Path = _
  private def base = root.resolve("base")
  private def live = root.resolve("live")
  private def data = live.resolve("data").toString
  private def manifest = live.resolve("manifest").toString
  private def batchDir = root.resolve("batch").toString

  /** The seed-chosen id-upper slice; the same one in every pass. */
  val chosen: Int = new scala.util.Random(env.seed).nextInt(Slices)

  def prepare(rep: Int): Unit = {
    root = Paths.get(env.workDir, s"lake-r$rep")
    Workloads.deleteTree(root)
    val top = events.agg(max(col("event_id"))).head().getLong(0)
    val half = top / 2
    val width = (top - half + Slices - 1) / Slices
    val id = col("event_id")
    events.filter(id > half + chosen * width && id <= half + (chosen + 1) * width)
      .coalesce(1).write.parquet(batchDir)
    Layout.zorderWrite(events.filter(id <= half), col("user_id").cast("long"),
      floor(col("value")).cast("long"), base.resolve("data").toString, numFiles = 8)
    Layout.writeStatsManifest(spark, base.resolve("data").toString,
      base.resolve("manifest").toString, Cols)
  }

  override def beforePass(): Unit = {
    Workloads.deleteTree(live)
    Workloads.copyTree(base, live)
  }

  private def serve(): DataFrame = Layout.manifestPrunedRead(spark, data, manifest, Ranges)
    .groupBy("event_type")
    .agg(count(lit(1)).as("n"), sum(floor(col("value") * 100).cast("long")).as("cents"))

  private def append(): Unit =
    Layout.appendWithManifest(spark, spark.read.parquet(batchDir), data, manifest, Cols)

  private def compact(): Unit =
    Layout.compactManifestLake(spark, data, manifest, Cols, numFiles = 4, sortCol = "user_id")

  def ops(pass: Int): Seq[Op] = Seq(
    QueryOp("serve", "serve", () => serve()),
    WriteOp("append", "append", () => append()),
    QueryOp("serve_after_append", "serve", () => serve()),
    WriteOp("compact", "compact", () => compact()),
    QueryOp("serve_after_compact", "serve", () => serve()))

  /** Serve digest of the state each pass ended in. */
  private val passDigests = scala.collection.mutable.ArrayBuffer.empty[Try[Checks.Digest]]

  override def afterPass(): Unit = passDigests += Try(Checks.digest(serve()))

  /** Appends the batch, digests the serve, compacts, digests again:
    * compaction rewrites files, never rows, so both must agree, the
    * lake must hold exactly the base rows plus the batch, and every
    * pass must have ended in that same state. */
  def check(): Seq[Check] = Try {
    beforePass()
    append()
    val appended = Checks.digest(serve())
    compact()
    val last = Checks.digest(serve())
    val wantRows = spark.read.parquet(base.resolve("data").toString).count() +
      spark.read.parquet(batchDir).count()
    val gotRows = spark.read.parquet(data).count()
    Seq(Check("serve", last == appended, s"after append $appended, after compaction $last"),
      Check("append", wantRows == gotRows, s"rows want $wantRows got $gotRows"),
      Check("compact", wantRows == gotRows, s"rows want $wantRows got $gotRows")) ++
      passDigests.zipWithIndex.map {
        case (Success(d), i) => Check("serve", d == last, s"pass end $i: want $last got $d")
        case (Failure(e), i) => Check("serve", ok = false, s"pass end $i: $e")
      }
  }.recover { case e => Seq("serve", "append", "compact").map(Check(_, ok = false, e.toString)) }
    .get

  private def parquetFiles(p: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(p))
    try walk.iterator().asScala.filter(f => Files.isRegularFile(f) &&
      f.getFileName.toString.endsWith(".parquet")).toList
    finally walk.close()
  }

  override def facts(): Map[String, Any] = Map(
    "ingested_bytes_per_pass" -> parquetFiles(batchDir).map(Files.size).sum,
    "batch_slice" -> chosen)

  /** Data files in the live lake. */
  override def passFacts(): Map[String, Any] = Map("live_files" -> parquetFiles(data).size)
}
