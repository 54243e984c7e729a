package graft.operators

import scala.util.DynamicVariable

import org.apache.spark.graft.ListenerBusBridge
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, octet_length, sum}
import org.apache.spark.sql.types._

/** One driver-finish decision, posted on the session's listener bus
  * (a listener sees it through `onOtherEvent`): operator `op` measured
  * `probeBytes` of driver memory against `budgetBytes` and took `path`,
  * `"driver"` or `"distributed"`. */
case class DriverFinishDecision(op: String, probeBytes: Long,
    budgetBytes: Long, path: String) extends SparkListenerEvent

/** The driver-finish policy shared by every operator that can finish a
  * small input on the driver: PageRank, Hits, LabelProp,
  * ConnectedComponents, KCore, Triangles, q121, Mmr, Perceptron,
  * BpeTrain, RepeatedSequences, ProductQuantize, KMeans, SemDeDup and
  * the shingle-pair family (JaccardPairs' probe and bitmap sweep,
  * which Containment shares, and MinHashLsh's signature sweep: q19,
  * q20, q41, q85, q108, q111, q113). Each has an iterative or pairwise
  * phase whose Spark jobs cost pure scheduling overhead on a small
  * input; when the input fits, one bounded collect and a
  * primitive-array loop on the driver replace them, and each operator
  * pins its driver path bit-identical to its distributed one in its
  * specs. Inputs over the budget never collect in full: at 100 TB the
  * distributed formulation runs unchanged.
  *
  * The budget. One limit in bytes of driver memory, [[BudgetBytes]] =
  * 64 MiB: two longs per edge for 4M edges, the sizing the first graph
  * finishes were chosen for. Each caller converts its probe to bytes
  * with a bytes-per-unit stated at the call (16 B per edge, 24 B per
  * feature row, `16 + 8·dims` per vector, 128 B per shingle row, …),
  * so one number bounds every finish. The operators' other driver
  * state (dense indexes, CSR arrays, per-node scores) is linear in the
  * same input, so a finish holds a small multiple of its probe at most.
  *
  * The probes, one of three forms per caller:
  *  - [[fitsCount]]: an exact `count()` of a frame the caller already
  *    persisted (the count materializes the cache the first
  *    distributed round would fill anyway);
  *  - [[collectBounded]]: a LIMIT collect of `cap + 1` rows, so an
  *    over-budget input costs one partial scan, never a full collect;
  *  - [[fitsEstimated]]: the optimizer's size estimate first (free, no
  *    job), then an exact `sum(octet_length)` of a text column, for
  *    callers whose probe is itself a corpus scan.
  *
  * The knob. [[withBudget]] scopes another budget over a body — on the
  * calling thread and on threads the body starts — and
  * [[forceDistributed]] is budget −1, under which every probe, zero
  * included, exceeds the budget. It is the one way specs and
  * `Probe graph` pick a path.
  */
private[graft] object DriverFinish {

  val BudgetBytes: Long = 64L << 20

  /** An optimizer estimate is a projection-scaled file size, possibly
    * compressed, so it may sit well below the bytes it describes; only
    * an estimate this many times over the budget skips the exact
    * probe. One-sided: an overestimate just probes. */
  private val EstimateSlack = 32L

  private val budget = new DynamicVariable[Long](BudgetBytes)

  def withBudget[A](bytes: Long)(body: => A): A = budget.withValue(bytes)(body)

  def forceDistributed[A](body: => A): A = withBudget(-1L)(body)

  /** The decision on a probe already in bytes, posted as a
    * [[DriverFinishDecision]]: true means finish on the driver. */
  def fits(op: String, spark: SparkSession, probeBytes: Long): Boolean =
    decide(op, spark, probeBytes, probeBytes <= budget.value)

  /** Exact row count of a persisted frame, at `bytesPerRow`. */
  def fitsCount(op: String, df: DataFrame, bytesPerRow: Long): Boolean =
    fits(op, df.sparkSession, times(df.count(), bytesPerRow))

  /** At most `budget / bytesPerRow` rows of `df`, or None when it has
    * more (the LIMIT reads one row past the cap to tell). */
  def collectBounded(op: String, df: DataFrame, bytesPerRow: Long): Option[Array[Row]] = {
    val b = budget.value
    val cap = math.min(math.max(b, 0L) / bytesPerRow, Int.MaxValue - 2L).toInt
    val rows = df.limit(cap + 1).collect()
    val probe = times(rows.length, bytesPerRow)
    if (decide(op, df.sparkSession, probe, rows.length <= cap && probe <= b)) Some(rows)
    else None
  }

  /** UTF-8 bytes of `docs`' text column, at `bytesPerByte`. The
    * estimate gates the exact `sum(octet_length)` scan: a corpus
    * estimated far over the budget goes distributed without paying
    * it. */
  def fitsEstimated(op: String, docs: DataFrame, textCol: String,
      bytesPerByte: Long): Boolean = {
    val text = docs.select(col(textCol))
    val est = text.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est > BigInt(budget.value) * EstimateSlack)
      decide(op, docs.sparkSession,
        (est * bytesPerByte).min(BigInt(Long.MaxValue)).toLong, driver = false)
    else {
      val r = text.select(sum(octet_length(col(textCol)))).head()
      fits(op, docs.sparkSession,
        times(if (r.isNullAt(0)) 0L else r.getLong(0), bytesPerByte))
    }
  }

  private def decide(op: String, spark: SparkSession, probeBytes: Long,
      driver: Boolean): Boolean = {
    ListenerBusBridge.post(spark.sparkContext, DriverFinishDecision(op, probeBytes,
      budget.value, if (driver) "driver" else "distributed"))
    driver
  }

  private def times(units: Long, bytesPerUnit: Long): Long =
    if (units > Long.MaxValue / bytesPerUnit) Long.MaxValue else units * bytesPerUnit

  /** Driver paths cast ids to long and back; anything outside the
    * integral family stays distributed. */
  def integral(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** Collect two integral columns as primitive long arrays. */
  def collectPairs(df: DataFrame, c1: String, c2: String): (Array[Long], Array[Long]) = {
    val rows = df.select(col(c1).cast("long"), col(c2).cast("long")).collect()
    val m = rows.length
    val x = new Array[Long](m)
    val y = new Array[Long](m)
    var i = 0
    while (i < m) {
      val r = rows(i)
      x(i) = r.getLong(0); y(i) = r.getLong(1)
      i += 1
    }
    (x, y)
  }

  /** Sorted distinct values of both arrays — the dense node index
    * (position = dense id, value = original id, lookup = binary
    * search). */
  def denseIndex(x: Array[Long], y: Array[Long]): Array[Long] = {
    val all = new Array[Long](x.length + y.length)
    System.arraycopy(x, 0, all, 0, x.length)
    System.arraycopy(y, 0, all, x.length, y.length)
    java.util.Arrays.sort(all)
    var n = 0
    var i = 0
    while (i < all.length) {
      if (n == 0 || all(n - 1) != all(i)) { all(n) = all(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(all, n)
  }

  def idx(ids: Array[Long], v: Long): Int =
    java.util.Arrays.binarySearch(ids, v)

  /** CSR over directed arcs (src dense id → dst dense id). */
  def csr(n: Int, src: Array[Int], dst: Array[Int]): (Array[Int], Array[Int]) = {
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < src.length) { off(src(i) + 1) += 1; i += 1 }
    i = 0
    while (i < n) { off(i + 1) += off(i); i += 1 }
    val adj = new Array[Int](src.length)
    val fill = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < src.length) {
      adj(fill(src(i))) = dst(i); fill(src(i)) += 1
      i += 1
    }
    (off, adj)
  }
}
