package graftbench

import java.util.SplittableRandom

/** The CQL ops both CQL workloads issue, and their seeded op plans.
  *
  * A plan's op kinds and flush/compact points follow fixed cycles; the seed
  * only picks keys and values. So two seeds give the same op mix and the
  * same flush policy over different data.
  */
sealed trait Op {
  def kind: String
  /** Logical bytes a write carries (key, clustering, cells); 0 for reads. */
  def logicalBytes: Long = 0L
}

object Op {
  final val Tbl = "bench.kv"

  final case class Slice(k: Long, cMin: Int) extends Op {
    def kind = "read.slice"
    def text = s"SELECT c, v, n FROM $Tbl WHERE k = $k AND c >= $cMin LIMIT 5"
  }
  final case class Group(ks: Seq[Long]) extends Op {
    def kind = "read.group"
    def text = s"SELECT k, count(*), sum(n) FROM $Tbl WHERE k IN (${ks.mkString(", ")}) GROUP BY k"
  }
  final case class Insert(k: Long, c: Int, v: String, n: Long) extends Op {
    def kind = "write.insert"
    def text = s"INSERT INTO $Tbl (k, c, v, n) VALUES ($k, $c, '$v', $n)"
    override def logicalBytes: Long = 20L + v.getBytes("UTF-8").length
  }
  final case class UpdateN(k: Long, c: Int, n: Long) extends Op {
    def kind = "write.update"
    def text = s"UPDATE $Tbl SET n = $n WHERE k = $k AND c = $c"
    override def logicalBytes: Long = 20L
  }
  final case class DeleteV(k: Long, c: Int) extends Op {
    def kind = "write.delete_cell"
    def text = s"DELETE v FROM $Tbl WHERE k = $k AND c = $c"
    override def logicalBytes: Long = 12L
  }
  final case class DeleteRow(k: Long, c: Int) extends Op {
    def kind = "write.delete_row"
    def text = s"DELETE FROM $Tbl WHERE k = $k AND c = $c"
    override def logicalBytes: Long = 12L
  }
  case object Flush extends Op { def kind = "flush" }
  case object Compact extends Op { def kind = "compact" }

  /** Prepared forms, bound positionally in the order of [[binds]]. */
  val preparedText: Map[String, String] = Map(
    "read.slice" -> s"SELECT c, v, n FROM $Tbl WHERE k = ? AND c >= ? LIMIT 5",
    "read.group" -> s"SELECT k, count(*), sum(n) FROM $Tbl WHERE k IN (?, ?, ?) GROUP BY k",
    "write.insert" -> s"INSERT INTO $Tbl (k, c, v, n) VALUES (?, ?, ?, ?)",
    "write.update" -> s"UPDATE $Tbl SET n = ? WHERE k = ? AND c = ?",
    "write.delete_cell" -> s"DELETE v FROM $Tbl WHERE k = ? AND c = ?",
    "write.delete_row" -> s"DELETE FROM $Tbl WHERE k = ? AND c = ?")

  def binds(op: Op): Seq[Any] = op match {
    case Slice(k, c) => Seq(k, c)
    case Group(ks) => ks
    case Insert(k, c, v, n) => Seq(k, c, v, n)
    case UpdateN(k, c, n) => Seq(n, k, c)
    case DeleteV(k, c) => Seq(k, c)
    case DeleteRow(k, c) => Seq(k, c)
    case other => throw new IllegalArgumentException(s"$other has no prepared form")
  }

  def text(op: Op): String = op match {
    case o: Slice => o.text
    case o: Group => o.text
    case o: Insert => o.text
    case o: UpdateN => o.text
    case o: DeleteV => o.text
    case o: DeleteRow => o.text
    case other => throw new IllegalArgumentException(s"$other has no statement text")
  }

  /** Apply a write to the model at the next write timestamp. */
  def applyTo(m: KvModel, op: Op): Unit = op match {
    case Insert(k, c, v, n) => m.insert(k, c, v, n, m.tick())
    case UpdateN(k, c, n) => m.updateN(k, c, n, m.tick())
    case DeleteV(k, c) => m.deleteV(k, c, m.tick())
    case DeleteRow(k, c) => m.deleteRow(k, c, m.tick())
    case _ => ()
  }

  /** Expected rows of a read, from the model. */
  def expected(m: KvModel, op: Op): Seq[Seq[Any]] = op match {
    case Slice(k, c) => m.slice(k, c, 5)
    case Group(ks) => m.group(ks)
    case other => throw new IllegalArgumentException(s"$other is not a read")
  }

  /** Write kinds in a fixed rotation: 50% insert, 25% update of `n`,
    * 15% cell delete, 10% row delete.
    */
  val writeCycle: IndexedSeq[String] = IndexedSeq(
    "I", "U", "I", "D", "I", "U", "I", "R", "I", "U",
    "I", "D", "I", "U", "I", "R", "I", "U", "I", "D")
}

/** Draws writes over a growing set of partitions, never issuing the same
  * delete twice, so every statement text is distinct.
  */
final class WriteGen(seed: Long, salt: Long, var parts: Int, newPartitionShare: Double) {
  import Op._
  private val rng = new SplittableRandom(Keys.mix(seed, salt))
  private val deleted = scala.collection.mutable.HashSet.empty[(String, Long, Int)]
  private var n = 0L

  def next(): Op = {
    val w = writeCycle((n % writeCycle.size).toInt)
    n += 1
    val gen = (salt << 32) + n
    if (w == "I") {
      val i = if (rng.nextDouble() < newPartitionShare) { parts += 1; parts - 1 } else rng.nextInt(parts)
      val j = rng.nextInt(8)
      Insert(Keys.partition(seed, i), Keys.clustering(seed, j), Keys.value(seed, i, j, gen),
        Keys.number(seed, i, j, gen))
    } else {
      var tries = 0
      var op: Op = null
      while (op == null) {
        val i = rng.nextInt(parts)
        val j = rng.nextInt(8)
        val (k, c) = (Keys.partition(seed, i), Keys.clustering(seed, j))
        op = w match {
          case "U" => UpdateN(k, c, Keys.number(seed, i, j, gen))
          case "D" if deleted.add(("D", k, c)) || tries > 100 => DeleteV(k, c)
          case "R" if deleted.add(("R", k, c)) || tries > 100 => DeleteRow(k, c)
          case _ => null
        }
        tries += 1
      }
      op
    }
  }
}

/** `cql_read`'s timed ops: a fixed cycle of 20 with 12 slice reads, 6 group
  * reads and 2 prepared writes. Slices and groups keep a 2:1 ratio in every
  * window of a few reads, so a run's short read sample always has the same
  * make-up. The salt picks another sequence of keys over the same table.
  */
final class ReadPlan(seed: Long, parts: Int, salt: Long = 0x52) extends Iterator[Op] {
  import Op._
  private val cycle = "SSGWSSGSSGSSGWSSGSSG"
  private val rng = new SplittableRandom(Keys.mix(seed, salt))
  private val writes = new WriteGen(seed, 0x57, parts, newPartitionShare = 0.0)
  private var n = 0L

  def hasNext = true

  def next(): Op = {
    val kind = cycle((n % cycle.length).toInt)
    n += 1
    kind match {
      case 'S' => Slice(Keys.partition(seed, rng.nextInt(parts)), Keys.clustering(seed, rng.nextInt(6)))
      case 'G' =>
        Group(Iterator.continually(rng.nextInt(parts)).distinct.take(3).map(Keys.partition(seed, _)).toSeq)
      case _ => writes.next()
    }
  }
}

/** `cql_write`'s timed ops: distinct statement writes, a read-your-writes
  * slice read after every `readEvery` writes, a flush after every
  * `flushEvery` writes and a compaction after every `compactEvery` flushes.
  */
final class WritePlan(seed: Long, parts: Int) extends Iterator[Op] {
  import WritePlan._
  private val writes = new WriteGen(seed, 0x77, parts, newPartitionShare = 0.2)
  private val queue = scala.collection.mutable.Queue.empty[Op]
  private var nWrites = 0L
  private var nFlushes = 0L

  def hasNext = true

  def next(): Op = {
    if (queue.isEmpty) {
      val w = writes.next()
      queue += w
      nWrites += 1
      if (nWrites % readEvery == 0) w match {
        case Op.Insert(k, c, _, _) => queue += Op.Slice(k, c)
        case Op.UpdateN(k, c, _) => queue += Op.Slice(k, c)
        case Op.DeleteV(k, c) => queue += Op.Slice(k, c)
        case Op.DeleteRow(k, c) => queue += Op.Slice(k, c)
        case _ => ()
      }
      if (nWrites % flushEvery == 0) {
        queue += Op.Flush
        nFlushes += 1
        if (nFlushes % compactEvery == 0) queue += Op.Compact
      }
    }
    queue.dequeue()
  }
}

object WritePlan {
  val readEvery = 150
  val flushEvery = 100
  val compactEvery = 3
  /** The timed phase runs at least this many compaction cycles. */
  val minCompactions = 3
}
