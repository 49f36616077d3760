package perfbench

import java.util.SplittableRandom

/** One version of an entity as the loopback API serves it: EC2-shaped flat
  * string attributes (values aligned with [[Workload.Keys]], id first) and a
  * strictly increasing `updatedOnMs` within its type's feed.
  */
final case class Item(values: Array[String], ts: Long) {
  def id: String = values(0)

  /** Content identity — everything but `updatedOnMs` (the program's CDC
    * ignores the version stamp, so "unchanged" means equal content).
    */
  def content: String = values.mkString("\u0001")

  def json: String = {
    val sb = new java.lang.StringBuilder(512).append('{')
    var i = 0
    while (i < values.length) {
      sb.append('"').append(Workload.Keys(i)).append("\":\"").append(values(i)).append("\",")
      i += 1
    }
    sb.append("\"updatedOnMs\":").append(ts).append('}').toString
  }
}

/** The entity type's time-ordered feed, split into phases by horizons:
  * items `[0, horizons(0))` are the pre-existing population the set-up
  * backfill loads, and pass `j` makes items up to `horizons(j + 1)`
  * visible. Consecutive passes share one boundary item, because the API's
  * `updatedFromMs` filter is inclusive.
  */
final case class Feed(typeName: String, items: Array[Item], horizons: Array[Int]) {
  val ts: Array[Long] = items.map(_.ts)

  /** First index whose `updatedOnMs` is >= `fromMs`. */
  def lowerBound(fromMs: Long): Int = {
    val i = java.util.Arrays.binarySearch(ts, fromMs)
    if (i >= 0) i else -i - 1
  }
}

/** Shape of one workload over one entity type. `passPages` pages of
  * `pageSize` items per pass; `backfill` passes start from an empty store
  * each time, the others continue the feed over a state built in set-up
  * from `stateSize` entities (in `setupPageSize` pages), with a seeded
  * new/changed/unchanged mix.
  */
final case class Spec(
    name: String,
    stateSize: Int,
    setupPageSize: Int,
    pageSize: Int,
    passPages: Int,
    backfill: Boolean)

object Workload {

  /** Stream mix: 2% new entities, 8% changed, the rest re-stamped unchanged. */
  val NewShare = 0.02
  val ChangedShare = 0.08
  /** The target's `maxBatchSize`: the reference config's value, which is
    * also the program's default.
    */
  val MaxBatchSize = 10000
  /** Untimed passes that end the set-up. They take out the slowest first
    * passes; the JIT keeps compiling on every later pass too, so more of
    * them buy little.
    */
  val WarmupPasses = 2
  /** Most timed passes a run makes; the feed is generated this far. */
  val MaxPasses = 40

  val IdKey = "aws_instance_id"
  val TagKeys: Array[String] = Array("Name", "env", "team", "service", "owner", "cost_center",
    "version", "cluster", "role", "project").map("aws_tag_" + _)
  val Keys: Array[String] =
    Array(IdKey, "aws_region", "aws_state", "aws_instance_type", "aws_availability_zone") ++ TagKeys

  private val Regions = Array("us-east-1", "us-east-2", "us-west-1", "us-west-2", "eu-west-1",
    "eu-central-1", "ap-southeast-1", "ap-northeast-1")
  private val States = Array("pending", "running", "stopping", "stopped")
  private val InstanceTypes = Array("t3.micro", "t3.large", "m5.xlarge", "m5.2xlarge", "c5.4xlarge",
    "r5.large", "i3.2xlarge")
  private val Envs = Array("prod", "staging", "dev", "qa")
  private val Teams = Array("core", "search", "billing", "ingest", "edge", "data", "ml", "infra")

  /** Entity template the program renders: every attribute, so any content
    * change shows in the delivered document.
    */
  val Template: String = Keys.map(k => s""""$k": "{{entity.$k}}"""").mkString("{", ", ", "}")

  /** The document the template yields for `values`. */
  def render(values: Array[String]): String =
    Keys.indices.map(i => s""""${Keys(i)}": "${values(i)}"""").mkString("{", ", ", "}")

  val specs: Map[String, Spec] = Seq(
    Spec("backfill", stateSize = 0, setupPageSize = 0, pageSize = 10000,
      passPages = 3, backfill = true),
    Spec("incremental", stateSize = 100000, setupPageSize = 100000, pageSize = 500,
      passPages = 3, backfill = false)
  ).map(s => s.name -> s).toMap

  val TypeName = "aws_ec2"

  private def fresh(rnd: SplittableRandom, n: Int): Array[String] = {
    val v = new Array[String](Keys.length)
    v(0) = f"i-00${n}%08x${rnd.nextInt(1 << 16)}%04x"
    v(1) = Regions(rnd.nextInt(Regions.length))
    v(2) = States(rnd.nextInt(States.length))
    v(3) = InstanceTypes(rnd.nextInt(InstanceTypes.length))
    v(4) = v(1) + ('a' + rnd.nextInt(3)).toChar
    var i = 5
    while (i < Keys.length) {
      v(i) = Keys(i) match {
        case "aws_tag_env"  => Envs(rnd.nextInt(Envs.length))
        case "aws_tag_team" => Teams(rnd.nextInt(Teams.length))
        case k              => s"${k.stripPrefix("aws_tag_")}-${rnd.nextInt(1000)}"
      }
      i += 1
    }
    v
  }

  /** A changed copy: the instance state or one tag gets a new value. */
  private def mutate(rnd: SplittableRandom, v: Array[String]): Array[String] = {
    val c = v.clone()
    if (rnd.nextInt(3) == 0)
      c(2) = States((States.indexOf(v(2)) + 1 + rnd.nextInt(States.length - 1)) % States.length)
    else {
      val i = 5 + rnd.nextInt(TagKeys.length)
      c(i) = s"${Keys(i).stripPrefix("aws_tag_")}-r${rnd.nextInt(1000000)}"
    }
    c
  }

  /** Items one pass makes visible beyond the shared boundary item. */
  def passItems(spec: Spec): Int = spec.passPages * (spec.pageSize - 1)

  /** Generate the feed for `seed`: same seed, same feed. */
  def generate(spec: Spec, seed: Long): Feed = {
    val rnd = new SplittableRandom(seed * 1000003L)
    var ts = 1700000000000L
    def nextTs(): Long = { ts += 1 + rnd.nextInt(5); ts }
    if (spec.backfill) {
      // every pass replays the same history into an empty store
      val n = passItems(spec) + 1
      val items = Array.tabulate(n)(i => Item(fresh(rnd, i), nextTs()))
      Feed(TypeName, items, Array(0, n))
    } else {
      val out = Array.newBuilder[Item]
      val live = new java.util.ArrayList[Array[String]]()
      var created = 0
      for (_ <- 0 until spec.stateSize) {
        val v = fresh(rnd, created); created += 1
        live.add(v); out += Item(v, nextTs())
      }
      val horizons = Array.newBuilder[Int]
      var h = spec.stateSize
      horizons += h
      val passes = WarmupPasses + MaxPasses
      for (_ <- 0 until passes) {
        for (_ <- 0 until passItems(spec)) {
          val r = rnd.nextDouble()
          val v =
            if (r < NewShare || live.isEmpty) {
              val v = fresh(rnd, created); created += 1; live.add(v); v
            } else {
              val k = rnd.nextInt(live.size)
              if (r < NewShare + ChangedShare) { val m = mutate(rnd, live.get(k)); live.set(k, m); m }
              else live.get(k)
            }
          out += Item(v, nextTs())
        }
        h += passItems(spec)
        horizons += h
      }
      Feed(TypeName, out.result(), horizons.result())
    }
  }
}
