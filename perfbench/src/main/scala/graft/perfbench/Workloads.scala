package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.pipeline.{ConfigStore, Entity, SilverLoader, SyncRunner}
import graft.sources.GraftTable
import graft.streaming.{StreamingGoldMirror, SupervisedMirror}

final class Ctx(val spark: SparkSession, val seed: Long, val trace: Trace, val rec: Recorder,
    val traced: Boolean)

/** One set-up instance of a workload: sources, tables and the loop body.
  * Each cycle is closed-loop on the calling thread: the next change batch
  * lands only after the previous cycle's last hop has returned.
  */
abstract class Pipeline(ctx: Ctx, dir: Path) {
  import ctx._
  val srcRoot: Path = dir.resolve("src")
  val silverRoot: Path = dir.resolve("silver")
  /** Table roots whose files count towards write_amp. */
  def roots: Seq[Path]
  def warmups: Int
  /** The fewest measured cycles, and the number they come in multiples
    * of: a run measures whole periods, whatever the machine's speed.
    */
  def minCycles: Int
  def period: Int = 1
  /** Fixture generation and the initial full load; repeated during set-up. */
  def init(): Unit
  /** One-off set-up after the last `init`, before the warm-up cycles. */
  def prepare(): Unit = ()
  def cycle(c: Int): Unit
  def finalGate(): Seq[String]
  def close(): Unit = ()

  private val born = System.nanoTime()
  /** Progress of the set-up on stderr. */
  protected def note(what: String): Unit =
    System.err.println(f"perfbench: ${Stats.seconds(System.nanoTime() - born)}%.2f s $what")

  /** Most updates of `orders` fall among its newest 0.5% of keys; one
    * per cycle is a late correction to one of its oldest 5%. The late
    * correction makes the copy-on-write merge fold the oldest file into
    * the file every cycle rewrites. Keys drawn from all older keys would
    * fold one to four of the overlapping initial files, a different number
    * per seed, so write_amp would measure the seed rather than the engine.
    */
  protected val RecentWindow: Long = part(Sizes.orders, 0.005)
  protected val OldWindow: Long = part(Sizes.orders, 0.05)

  protected def orderUpdates(r: java.util.Random, src: Source): Seq[Long] =
    src.sample(r, part(Sizes.orders, 0.00033), src.keys - RecentWindow + 1, src.keys) ++
      src.sample(r, 1, 1, OldWindow)

  /** `share` of `n` rows, at least one. */
  protected def part(n: Long, share: Double): Int = math.max(1L, math.round(n * share)).toInt

  protected def rng(c: Int) = new java.util.Random(Source.mix(seed, 0x5eed, c.toLong, 0, 0))

  protected def land(bs: Batch*): Long = {
    if (rec.measuring) bs.foreach { b => rec.changeRows += b.rows; rec.changeBytes += b.bytes }
    System.nanoTime()
  }

  /** Runs one hop and returns the time it returned. */
  protected def hop(name: String)(body: => Unit): Long = {
    rec.op(trace(name)(body))
    System.nanoTime()
  }

  protected def freshness(metric: String, since: Long, at: Long): Unit =
    rec.sample(metric, Stats.seconds(at - since))

  protected def loadSilver(loader: SilverLoader, since: Long): Long = {
    val t = hop("SilverLoader")(loader.run())
    if (rec.measuring) rec.loaderNanos += t - since
    freshness("silver_freshness_s", since, t)
    t
  }

  protected def gate(checks: => Seq[String]): Unit = rec.check(trace("gate")(checks))

  /** `n` point reads on silver: half on keys this cycle changed, half on
    * uniformly drawn live keys.
    */
  protected def pointReads(c: Int, root: Path, src: Source, b: Batch, n: Int): Unit = {
    val r = rng(c)
    val hot = b.upserts.filter(src.isLive)
    val keys = (0 until n).map { i =>
      if (i % 2 == 0 && hot.nonEmpty) hot(r.nextInt(hot.size)) else src.sample(r, 1, 1, src.keys).head
    }
    keys.foreach { k =>
      val t0 = System.nanoTime()
      val found = rec.op(trace("read")(Reads.point(spark, root.toString, src.spec, src.pkOf(k), rec, traced)))
      rec.sample("point_read_s", Stats.seconds(System.nanoTime() - t0))
      rec.check(if (found == 1) Nil else Seq(s"point read of ${src.pkOf(k)} found $found rows"))
    }
  }

  /** `n` full-table aggregates on silver. */
  protected def scanReads(root: Path, src: Source, n: Int): Unit = (1 to n).foreach { _ =>
    val t0 = System.nanoTime()
    val seen = rec.op(trace("read")(Reads.aggregate(spark, root.toString, rec, traced)))
    rec.sample("scan_read_s", Stats.seconds(System.nanoTime() - t0))
    rec.check(if (seen == src.live) Nil else Seq(s"aggregate saw $seen rows, source holds ${src.live}"))
  }
}

/** TMSTP `orders` and CT `customer` loaded by one SilverLoader; each
  * cycle lands ~0.1% of each table: two thirds new keys, the rest updates
  * to the newest keys (plus one late update to an old `orders` key),
  * and one CT delete.
  */
final class NrtCadence(ctx: Ctx, dir: Path) extends Pipeline(ctx, dir) {
  import ctx._
  private val orders = new Source(Spec.orders, srcRoot, seed, 2048)
  private val customer = new Source(Spec.customer, srcRoot, seed, 1024)
  private val config = new ConfigStore(spark, dir.resolve("control").toString)
  private val loader = new SilverLoader(spark, config, srcRoot.toString, silverRoot.toString,
    correctedDeletes = true)
  private val ordersRoot = silverRoot.resolve("sales.orders")
  private val customerRoot = silverRoot.resolve("sales.customer")
  val roots: Seq[Path] = Seq(silverRoot, dir.resolve("control"))
  val warmups = 1
  val minCycles = 4

  config.registerEntities(Seq(
    Entity(1L, "orders", "sales.orders", "src", "silver", "TMSTP", Some("o_updated_at"), "o_orderkey"),
    Entity(2L, "customer", "sales.customer", "src", "silver", "CT", None, "c_custkey")))

  def init(): Unit = {
    orders.init(Sizes.orders)
    customer.init(Sizes.customer)
    note("sources written")
    trace("SilverLoader")(loader.run())
  }

  def cycle(c: Int): Unit = rec.op(trace("cycle") {
    val r = rng(c)
    val (bo, bc, since) = trace("generator") {
      val bo = orders.land(c, part(Sizes.orders, 0.00067), orderUpdates(r, orders), Nil)
      val cs = customer.sample(r, part(Sizes.customer, 0.0004) + 1,
        customer.keys - part(Sizes.customer, 0.02) + 1, customer.keys)
      val bc = customer.land(c, part(Sizes.customer, 0.0006), cs.drop(1), cs.take(1))
      (bo, bc, land(bo, bc))
    }
    freshness("last_hop_freshness_s", since, loadSilver(loader, since))
    gate(Gate.batch(spark, ordersRoot.toString, orders, bo, "silver orders") ++
      Gate.batch(spark, customerRoot.toString, customer, bc, "silver customer"))
    pointReads(c, ordersRoot, orders, bo, 5)
    scanReads(ordersRoot, orders, 3)
  })

  def finalGate(): Seq[String] =
    Gate.whole(spark, ordersRoot.toString, orders, "silver orders") ++
      Gate.whole(spark, customerRoot.toString, customer, "silver customer")
}

/** The q111 chain in steady state: TMSTP `orders` silver with change feed
  * and row tracking, a long-running supervised gold mirror (re-keyed to
  * `silver_sk`, gold tracked), and a SyncRunner gold->mart hop per cycle.
  * Every second measured cycle restarts the mirror from its checkpoint.
  */
final class MedallionChain(ctx: Ctx, dir: Path) extends Pipeline(ctx, dir) {
  import ctx._
  private val orders = new Source(Spec.orders, srcRoot, seed, 2048)
  private val config = new ConfigStore(spark, dir.resolve("control").toString)
  private val martConfig = new ConfigStore(spark, dir.resolve("control-mart").toString)
  private val loader = new SilverLoader(spark, config, srcRoot.toString, silverRoot.toString,
    publishChangeFeed = true, rowTracking = true)
  private val ordersRoot = silverRoot.resolve("sales.orders")
  private val goldRoot = dir.resolve("gold")
  private val martRoot = dir.resolve("mart")
  private val mirror = new StreamingGoldMirror(spark, ordersRoot.toString, goldRoot.toString,
    dir.resolve("checkpoint").toString, storedIdCol = Some("silver_sk"))
  val roots: Seq[Path] = Seq(silverRoot, goldRoot, martRoot, dir.resolve("control"),
    dir.resolve("control-mart"))
  val warmups = 1
  val minCycles = 2
  override val period = 2

  config.registerEntities(Seq(
    Entity(1L, "orders", "sales.orders", "src", "silver", "TMSTP", Some("o_updated_at"), "o_orderkey")))
  martConfig.registerEntities(Seq(Entity(99L, "gold", "mart.gold", "gold", "mart", "CT", None, "_row_id")))
  private val gold = GraftTable(spark, goldRoot.toString)
  private val runner = new SyncRunner(spark, martConfig, gold, GraftTable(spark, martRoot.toString), 99L)
  private var sup: SupervisedMirror = _

  def init(): Unit = {
    orders.init(Sizes.orders)
    note("sources written")
    trace("SilverLoader")(loader.run())
  }

  /** Bootstraps gold (then tracked) and mart, and leaves the mirror running. */
  override def prepare(): Unit = {
    sup = trace.detached(mirror.startSupervised())
    trace("SupervisedMirror")(sup.processAllAvailable())
    sup.stop()
    gold.enableRowTracking()
    sup = trace.detached(mirror.startSupervised())
    trace("SyncRunner")(runner.runOnce())
  }

  def cycle(c: Int): Unit = rec.op(trace("cycle") {
    val r = rng(c)
    val (b, since) = trace("generator") {
      val b = orders.land(c, part(Sizes.orders, 0.00067), orderUpdates(r, orders), Nil)
      (b, land(b))
    }
    loadSilver(loader, since)
    // the last cycle of each measured period; warm-up cycles never restart
    if (c > warmups && (c - warmups) % period == 0) trace("SupervisedMirror.restart") {
      sup.stop()
      sup = trace.detached(mirror.startSupervised())
    }
    freshness("gold_freshness_s", since, hop("SupervisedMirror")(sup.processAllAvailable()))
    val t = hop("SyncRunner")(runner.runOnce())
    freshness("mart_freshness_s", since, t)
    freshness("last_hop_freshness_s", since, t)
    gate(Gate.batch(spark, ordersRoot.toString, orders, b, "silver orders"))
    pointReads(c, ordersRoot, orders, b, 7)
    scanReads(ordersRoot, orders, 3)
  })

  def finalGate(): Seq[String] =
    Seq(ordersRoot, goldRoot, martRoot).flatMap(root =>
      Gate.whole(spark, root.toString, orders, root.getFileName.toString))

  override def close(): Unit = if (sup != null) sup.stop()
}

/** Source sizes: TPC-H row counts at scale factor `Sf`. */
object Sizes {
  val Sf = 0.02
  val orders: Long = math.round(1500000 * Sf)
  val customer: Long = math.round(150000 * Sf)
  def describe: String = s"synthetic sf$Sf (orders $orders, customer $customer rows)"
}

object Workloads {
  val names: Seq[String] = Seq("nrt_cadence", "medallion_chain")

  def setup(name: String, ctx: Ctx, dir: Path): Pipeline = name match {
    case "nrt_cadence" => new NrtCadence(ctx, dir)
    case "medallion_chain" => new MedallionChain(ctx, dir)
  }
}
