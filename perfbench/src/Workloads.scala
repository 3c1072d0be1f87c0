package perfbench

import scala.util.Random

/** One step of the client's request stream. `Op`s are timed requests;
  * the cache `Invalidate` and `Corrupt` steps are the operator's admin
  * actions between requests (the reference's `hdfs dfs -rm -r
  * /partitions`, and a damaged partition file). */
sealed trait Step
sealed trait Op extends Step {
  /** Name of the operation, as reported per op. */
  def name: String
  /** Class the op's latency is summarised under. */
  def cls: String
}
/** A `SparkEntry.queries` function, materialized through the noop sink. */
final case class Query(name: String, cls: String) extends Op
/** `PartitionCache.calcAvg` for `key`; `expect` is the source tag the
  * schedule predicts (create, reuse or recreate). */
final case class CalcAvg(key: String, expect: String) extends Op {
  def name = "CalcAvgLoan"
  def cls = "calcavg_" + expect
}
case object BlockLocations extends Op {
  def name = "BlockLocations"; def cls = "block_locations"
}
case object DbToHdfs extends Op {
  def name = "DbToHdfs"; def cls = "etl_write"
}
case object Invalidate extends Step
final case class Corrupt(key: String) extends Step

/** A workload: the untimed warm-up pass run at every set-up, the seeded
  * measured passes, and the `SparkEntry.queries` whose output is checked
  * once per run. */
trait Workload {
  def name: String
  def warmup: Seq[Step]
  def pass(seed: Long, index: Int): Seq[Step]
  def checked: Seq[String]
  /** Ops whose `count()` time is recorded beside the noop time. */
  def bridged: Seq[String] = Nil
  /** Ops run once after the traced window, traced and checked, but kept
    * out of the timed passes because of their cost. */
  def probes: Seq[Query] = Nil

  protected def rng(seed: Long, index: Int): Random =
    new Random(seed * 1000003L + index)
}

/** A fixed op set, run in a seeded order each pass. */
final class QueryPasses(val name: String, ops: Seq[Query],
                        bridge: Boolean,
                        override val probes: Seq[Query] = Nil) extends Workload {
  def warmup: Seq[Step] = ops
  def pass(seed: Long, index: Int): Seq[Step] = rng(seed, index).shuffle(ops)
  def checked: Seq[String] = ops.map(_.name)
  override def bridged: Seq[String] =
    if (bridge) (ops ++ probes).map(_.name) else Nil
}

/** The reference's three RPCs as a seeded request stream. Each pass is a
  * block of 20 requests: 17 `CalcAvgLoan` (85%), 2 `BlockLocations`
  * (10%), 1 `DbToHdfs` (5%). The CalcAvgLoan keys are fixed per block
  * (A ×4, N ×5, R ×5 and the absent Z ×3), so every block does the same
  * work. The block opens with a cache invalidation, so the first call on
  * each key is a create; one corruption of a cached partition turns a
  * later call on that key into a recreate. Every block therefore holds 4
  * creates, 1 recreate and 12 reuses: the hit ratio is 12/17 whatever the
  * seed and however many blocks a run completes. The seed moves the order
  * of the requests and where the corruption happens; the corrupted key
  * cycles through A, N and R from block to block. */
object RpcMix extends Workload {
  val name = "rpc_mix"
  /** CalcAvgLoan calls per block by key; `Z` is absent from the fixture. */
  val KeyCalls = Seq("A" -> 4, "N" -> 5, "R" -> 5, "Z" -> 3)

  def warmup: Seq[Step] = Seq(Invalidate,
    CalcAvg("A", "create"), CalcAvg("A", "reuse"), Corrupt("A"),
    CalcAvg("A", "recreate"), CalcAvg("Z", "create"), CalcAvg("Z", "reuse"),
    BlockLocations, DbToHdfs)

  def checked: Seq[String] = Seq("o13_block_locations", "o05_sink_roundtrip")

  def pass(seed: Long, index: Int): Seq[Step] = {
    val r = rng(seed, index)
    val keys = r.shuffle(KeyCalls.flatMap { case (k, n) => Seq.fill(n)(k) })
    val victim = Seq("A", "N", "R")(((seed + index) % 3 + 3).toInt % 3)
    // Corrupt after a call on the victim that is not its last one.
    val candidates = keys.indices.filter { i =>
      keys(i) == victim && keys.indexOf(victim, i + 1) > 0
    }
    val at = candidates(r.nextInt(candidates.size))
    val seen = scala.collection.mutable.Set.empty[String]
    var corrupted = false
    val calls: Seq[Seq[Step]] = keys.zipWithIndex.map { case (k, i) =>
      val expect =
        if (!seen(k)) "create"
        else if (corrupted && k == victim) { corrupted = false; "recreate" }
        else "reuse"
      seen += k
      val call = CalcAvg(k, expect)
      if (i == at) { corrupted = true; Seq(call, Corrupt(k)) } else Seq(call)
    }
    // Interleave the other RPCs at seeded positions.
    val others = Seq[Step](BlockLocations, BlockLocations, DbToHdfs)
    val slots = r.shuffle((0 to calls.size).toList).take(others.size).sorted
    val withOthers = calls.zipWithIndex.flatMap { case (c, i) =>
      val here = slots.zipWithIndex.collect { case (s, j) if s == i => others(j) }
      here ++ c
    } ++ slots.zipWithIndex.collect { case (s, j) if s == calls.size => others(j) }
    Invalidate +: withOthers
  }
}

object Workloads {
  private def q(cls: String)(names: String*): Seq[Query] = names.map(Query(_, cls))

  /** Read-only analytics: TPC-H SQL shapes and text/vector curation;
    * `x11o` builds a session memo, so every set-up rebuilds it.
    * `x10m_jl_distortion` (5 s; whole-stage codegen falls back on its
    * 2,048-term projection) is the traced run's probe. */
  val batchQueries = new QueryPasses("batch_queries",
    q("batch")("x15b_sql_q6", "x15d_sql_q1", "x15m_sql_q13", "x15r_sql_q19",
      "x15u_sql_q22", "x10a_cosine_topk", "x11o_bpe_merges"),
    bridge = true,
    probes = q("probe")("x10m_jl_distortion"))

  /** Durable-state writers: snapshot commits. The stateful stream
    * `x12a_stream_tumbling` is the traced run's probe: its latency
    * varies by half run to run (micro-batch polling, state-store
    * commits), which would swamp the commit ops' figures. */
  val tableWrites = new QueryPasses("table_writes",
    q("snapshot")("of2_incremental_append", "of4_upsert_merge",
      "of5_cdc_apply", "of16_merge_evolution", "of21_generated_column"),
    bridge = false,
    probes = q("stream")("x12a_stream_tumbling"))

  val all: Map[String, Workload] =
    Seq(RpcMix, batchQueries, tableWrites).map(w => w.name -> w).toMap
}
