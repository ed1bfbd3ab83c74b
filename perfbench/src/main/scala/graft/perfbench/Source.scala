package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Column kinds the generator writes. Each has one parquet encoding and
  * one canonical driver-side value (Long, Int or String) that the gate
  * compares against the engine's output.
  */
sealed trait Kind
object Kind {
  case object Int64 extends Kind
  case object Int32 extends Kind
  case object Dec2 extends Kind // decimal(12,2), canonical = unscaled long
  case object Date extends Kind // canonical = epoch day
  case object Ts extends Kind // timestamp (UTC-adjusted), canonical = epoch micros
  case object Str extends Kind
}

case class Col(name: String, kind: Kind) {
  /** Spark SQL expression that renders this column as its canonical value. */
  def canonicalSql: String = kind match {
    case Kind.Dec2 => s"cast(`$name` * 100 as bigint)"
    case Kind.Date => s"unix_date(`$name`)"
    case Kind.Ts => s"unix_micros(`$name`)"
    case _ => s"`$name`"
  }
}

/** One source entity as the reference's SQL Server side would hold it.
  * Rows are identified by a key ordinal `r >= 1`; `pkOf` maps it to the
  * primary-key columns and `payload(h, r, ver)` derives every other column
  * from a hash `h` of (seed, r, ver, column), where `ver` is the cycle that
  * last changed the row (0 = initial load).
  */
case class Spec(
    name: String,
    pk: Seq[Col],
    payload: Seq[Col],
    pkOf: Long => Seq[Any],
    values: (Int => Long, Long, Int) => Seq[Any],
    changeTracked: Boolean) {
  val cols: Seq[Col] = pk ++ payload
  def pkNames: Seq[String] = pk.map(_.name)
}

object Spec {
  import Kind._

  private val T0Micros = 1704067200L * 1000000L // 2024-01-01T00:00:00Z
  private val D0 = 8766 // 1994-01-01 as epoch day
  private val Words = Array("furiously", "quickly", "carefully", "blithely", "slyly",
    "final", "regular", "special", "pending", "express", "ironic", "bold",
    "deposits", "requests", "packages", "accounts", "instructions", "theodolites")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def comment(h: Int => Long, c: Int, words: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < words) {
      if (i > 0) sb += ' '
      sb ++= Words(java.lang.Math.floorMod(h(c * 16 + i), Words.length))
      i += 1
    }
    sb.toString
  }
  /** Zero-padded to nine digits, as TPC-H renders names. */
  private def pad9(v: Long): String = {
    val d = v.toString
    "000000000".substring(math.min(9, d.length)) + d
  }
  private def pick(a: Array[String], v: Long): String = a(java.lang.Math.floorMod(v, a.length))
  private def between(v: Long, lo: Long, hi: Long): Long = lo + java.lang.Math.floorMod(v, hi - lo + 1)

  /** TMSTP rows of cycle `ver` carry timestamps inside their own
    * 100000-second window, so every cycle's rows sit strictly past the
    * previous cycle's watermark second (the loader compares watermarks
    * at second precision).
    */
  private def stamp(r: Long, ver: Int): Long =
    T0Micros + (ver.toLong * 100000L + r % 50000L) * 1000000L

  val orders: Spec = Spec("orders",
    Seq(Col("o_orderkey", Int64)),
    Seq(Col("o_custkey", Int64), Col("o_orderstatus", Str), Col("o_totalprice", Dec2),
      Col("o_orderdate", Date), Col("o_orderpriority", Str), Col("o_clerk", Str),
      Col("o_shippriority", Int32), Col("o_comment", Str), Col("o_updated_at", Ts)),
    r => Seq(r),
    (h, r, ver) => Seq(
      between(h(1), 1, 15000), pick(Array("F", "O", "P"), h(2)),
      between(h(3), 90000L, 50000000L), (D0 + between(h(4), 0, 2400)).toInt,
      pick(Priorities, h(5)), "Clerk#" + pad9(between(h(6), 1, 1000)),
      0, comment(h, 7, 4), stamp(r, ver)),
    changeTracked = false)

  val customer: Spec = Spec("customer",
    Seq(Col("c_custkey", Int64)),
    Seq(Col("c_name", Str), Col("c_address", Str), Col("c_nationkey", Int64),
      Col("c_phone", Str), Col("c_acctbal", Dec2), Col("c_mktsegment", Str),
      Col("c_comment", Str)),
    r => Seq(r),
    (h, r, ver) => Seq(
      "Customer#" + pad9(r), comment(h, 1, 2), between(h(2), 0, 24),
      s"${between(h(3), 10, 34)}-${between(h(4), 100, 999)}-${between(h(5), 1000, 9999)}",
      between(h(6), -99999L, 999999L), pick(Segments, h(7)), comment(h, 8, 6)),
    changeTracked = true)

  def parquetSchema(name: String, cols: Seq[Col]): MessageType =
    new MessageType(name, cols.map { c =>
      (c.kind match {
        case Int64 => Types.optional(PrimitiveTypeName.INT64)
        case Int32 => Types.optional(PrimitiveTypeName.INT32)
        case Dec2 => Types.optional(PrimitiveTypeName.INT64).as(LogicalTypeAnnotation.decimalType(2, 12))
        case Date => Types.optional(PrimitiveTypeName.INT32).as(LogicalTypeAnnotation.dateType())
        case Ts => Types.optional(PrimitiveTypeName.INT64).as(LogicalTypeAnnotation.timestampType(
          true, LogicalTypeAnnotation.TimeUnit.MICROS))
        case Str => Types.optional(PrimitiveTypeName.BINARY).as(LogicalTypeAnnotation.stringType())
      }).named(c.name): org.apache.parquet.schema.Type
    }.asJava)

  /** Logical size of a value as landed: the denominator of write_amp. */
  def bytesOf(v: Any): Long = v match {
    case s: String => s.length.toLong
    case _: Int => 4L
    case _ => 8L
  }
}

/** What one cycle landed in one source. */
case class Batch(upserts: Seq[Long], deletes: Seq[Long], rows: Int, bytes: Long)

/** A source table on disk, kept in step with an in-memory model.
  *
  * The snapshot is `<srcRoot>/<name>.parquet/`, one file per range of
  * `bucketKeys` key ordinals; a landing rewrites only the buckets it
  * touches (written under a hidden name, then renamed in). Change-tracked
  * entities also get `<srcRoot>/<name>_changes.parquet/`, an append-only
  * log of (pk, SYS_CHANGE_VERSION, SYS_CHANGE_OPERATION) with one file per
  * landing, the shape SQL Server change tracking returns. The engine reads
  * only these files.
  */
final class Source(val spec: Spec, srcRoot: Path, seed: Long, bucketKeys: Int) {
  val dir: Path = srcRoot.resolve(s"${spec.name}.parquet")
  val logDir: Path = srcRoot.resolve(s"${spec.name}_changes.parquet")
  private val schema = Spec.parquetSchema(spec.name, spec.cols)
  private val logSchema = Spec.parquetSchema(s"${spec.name}_changes",
    spec.pk ++ Seq(Col("SYS_CHANGE_VERSION", Kind.Int64), Col("SYS_CHANGE_OPERATION", Kind.Str)))
  private val nameSeed = spec.name.hashCode.toLong

  // per key ordinal: the cycle that last wrote it, or -1 once deleted
  private var ver = new Array[Int](1024)
  private var maxKey = 0L
  private var liveCount = 0L
  private var changeVersion = 0L
  private var fileSeq = 0
  private val bucketFile = mutable.Map.empty[Long, Path]

  def keys: Long = maxKey
  def live: Long = liveCount
  def isLive(r: Long): Boolean = r >= 1 && r <= maxKey && ver(r.toInt) >= 0

  /** Canonical values of key `r` as it currently stands. */
  def row(r: Long): Seq[Any] = rowAt(r, ver(r.toInt))

  private def rowAt(r: Long, v: Int): Seq[Any] =
    spec.pkOf(r) ++ spec.values(c => Source.mix(seed, nameSeed, r, v.toLong, c.toLong), r, v)

  def pkOf(r: Long): Seq[Any] = spec.pkOf(r)

  /** Writes the initial snapshot of `n` keys (and, change-tracked, the
    * initial log: one insert per key, so the first probe sees a version).
    */
  def init(n: Long): Batch = land(0, n.toInt, Nil, Nil)

  /** Lands one cycle: `inserts` new keys past the current maximum, new
    * images for `updates`, and removal of `deletes`. Returns once every
    * file is in place.
    */
  def land(cycle: Int, inserts: Int, updates: Seq[Long], deletes: Seq[Long]): Batch = {
    val fresh = (maxKey + 1 to maxKey + inserts).toSeq
    ensure(maxKey + inserts)
    maxKey += inserts
    liveCount += inserts - deletes.size
    fresh.foreach(r => ver(r.toInt) = cycle)
    updates.foreach(r => ver(r.toInt) = cycle)
    deletes.foreach(r => ver(r.toInt) = -1)
    val upserts = fresh ++ updates
    val touched = (upserts ++ deletes).map(bucketOf).distinct.sorted
    Source.parallel(touched)(writeBucket)
    if (spec.changeTracked) {
      val ops = fresh.map(_ -> "I") ++ updates.map(_ -> "U") ++ deletes.map(_ -> "D")
      writeLog(ops)
    }
    val pkBytes = deletes.map(r => pkOf(r).map(Spec.bytesOf).sum).sum
    Batch(upserts, deletes, upserts.size + deletes.size,
      upserts.map(r => row(r).map(Spec.bytesOf).sum).sum + pkBytes)
  }

  /** `n` distinct live keys drawn uniformly from the ordinals `lo` to `hi`. */
  def sample(rng: java.util.Random, n: Int, lo: Long, hi: Long): Seq[Long] = {
    val out = mutable.LinkedHashSet.empty[Long]
    val from = math.max(1L, lo)
    val to = math.min(maxKey, hi)
    var guard = 0
    while (out.size < n && to >= from && guard < n * 100) {
      val r = from + (rng.nextDouble() * (to - from + 1)).toLong
      if (isLive(r)) out += r
      guard += 1
    }
    out.toSeq
  }

  private def ensure(n: Long): Unit =
    if (n >= ver.length) {
      val grown = new Array[Int](math.max(ver.length * 2, n.toInt + 1))
      System.arraycopy(ver, 0, grown, 0, ver.length)
      ver = grown
    }

  private def bucketOf(r: Long): Long = (r - 1) / bucketKeys

  private def nextName(prefix: String): String = synchronized {
    fileSeq += 1; f"$prefix-$fileSeq%07d.parquet"
  }

  private def writeBucket(b: Long): Unit = {
    val lo = b * bucketKeys + 1
    val hi = math.min(maxKey, (b + 1) * bucketKeys)
    val rows = (lo to hi).iterator.filter(isLive).map(row)
    val old = synchronized(bucketFile.get(b))
    val target = dir.resolve(nextName(f"part-b$b%05d"))
    if (Source.write(target, schema, spec.cols, rows)) synchronized(bucketFile(b) = target)
    else synchronized(bucketFile.remove(b))
    old.foreach(Files.deleteIfExists)
  }

  private def writeLog(ops: Seq[(Long, String)]): Unit = {
    val rows = ops.iterator.map { case (r, op) =>
      changeVersion += 1
      pkOf(r) ++ Seq(changeVersion, op)
    }
    Source.write(logDir.resolve(nextName("log")), logSchema,
      spec.pk ++ Seq(Col("SYS_CHANGE_VERSION", Kind.Int64), Col("SYS_CHANGE_OPERATION", Kind.Str)),
      rows)
  }
}

object Source {
  /** SplitMix64 finaliser over the row's identity: the one source of
    * randomness in every payload value.
    */
  def mix(a: Long, b: Long, c: Long, d: Long, e: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L ^ b * 0xBF58476D1CE4E5B9L ^ c * 0x94D049BB133111EBL ^
      d * 0x2545F4914F6CDD1DL ^ e * 0xD6E8FEB86659FD93L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4, (r: Runnable) => {
    val t = new Thread(r, "perfbench-source"); t.setDaemon(true); t
  })

  def parallel[A](items: Seq[A])(f: A => Unit): Unit =
    if (items.size <= 1) items.foreach(f)
    else items.map(a => pool.submit((() => f(a)): Runnable)).foreach(_.get())

  /** Writes `rows` as one snappy parquet file at `target` (under a hidden
    * name first, so a directory listing never sees a partial file).
    * Returns false and writes nothing when `rows` is empty.
    */
  def write(target: Path, schema: MessageType, cols: Seq[Col], rows: Iterator[Seq[Any]]): Boolean = {
    if (!rows.hasNext) return false
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling("." + target.getFileName + ".tmp")
    val factory = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(tmp)).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try rows.foreach { row =>
      val g = factory.newGroup()
      var i = 0
      while (i < cols.length) {
        (cols(i).kind, row(i)) match {
          case (_, null) => ()
          case (Kind.Int32 | Kind.Date, v: Int) => g.add(i, v)
          case (Kind.Str, v: String) => g.add(i, v)
          case (_, v: Long) => g.add(i, v)
          case (k, v) => throw new IllegalArgumentException(s"${cols(i).name}: $k cannot hold $v")
        }
        i += 1
      }
      w.write(g)
    } finally w.close()
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    true
  }
}
