package pipebench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

/** Deterministic input generators. Every input is a function of the seed
  * and the size parameters alone; the program only ever sees the CSV files
  * written here. Each generator also keeps the ground truth the checks
  * compare against.
  */
object Gen {
  val Epoch: Long = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC)
  private val TsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def ts(sec: Long): String =
    LocalDateTime.ofEpochSecond(sec, 0, ZoneOffset.UTC).format(TsFmt)

  def csv(file: File, header: String)(rows: (String => Unit) => Unit): Long = {
    file.getParentFile.mkdirs()
    val w: BufferedWriter = Files.newBufferedWriter(file.toPath, StandardCharsets.UTF_8)
    try {
      w.write(header); w.write('\n')
      rows { line => w.write(line); w.write('\n') }
    } finally w.close()
    file.length()
  }

  def cents(c: Long): String = f"${c / 100}%d.${c % 100}%02d"

  // ------------------------------------------------------------------
  // star schema: customer (SCD2, snowflaked to nation and region), part,
  // supplier, date and a lineorder fact, delivered day by day
  // ------------------------------------------------------------------

  final case class StarSize(days: Int, newCustomers: Int, changes: Int, newParts: Int,
                            newSuppliers: Int, lineorders: Int)

  val Nations: IndexedSeq[String] = (0 until 25).map(i => f"NATION_$i%02d")
  def regionOf(nation: Int): String = s"REGION_${nation % 5}"
  val Segments: IndexedSeq[String] = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** One customer state as delivered in the change log. */
  final case class Cust(city: Int, segment: Int, nation: Int)

  /** Files of one batch and their row and byte counts. */
  final case class StarBatch(customers: File, parts: File, suppliers: File,
                             lineorders: File, rows: Long, bytes: Long)

  final class StarData(val batches: IndexedSeq[StarBatch],
                       val factRows: Long, val extendedCents: Long, val revenueCents: Long,
                       val versions: Map[String, Int], val nations: Int, val regions: Int,
                       val parts: Int, val suppliers: Int) {
    def rows: Long = batches.map(_.rows).sum
    def bytes: Long = batches.map(_.bytes).sum
  }

  def star(seed: Long, size: StarSize, dir: File): StarData = {
    val rnd = new SplittableRandom(seed)
    val state = mutable.ArrayBuffer[Cust]()       // current value per customer
    val created = mutable.ArrayBuffer[Long]()     // first change time per customer
    val versions = mutable.ArrayBuffer[Int]()     // distinct consecutive states
    val nations = mutable.HashSet[Int]()          // every nation the change log names
    var nParts = 0
    var nSupp = 0
    var orderKey = 0L
    var factRows = 0L
    var ext = 0L
    var rev = 0L
    def part(i: Int): String = {
      val m = 1 + i % 5
      val c = 1 + (i / 5) % 5
      f"P$i%07d,part $i,MFGR#$m,MFGR#$m$c,MFGR#$m$c${(i / 25) % 40}%02d"
    }
    def supplier(i: Int): String = {
      val n = Nations(i % 25)
      f"S$i%06d,Supplier#$i%06d,${n}_${(i / 25) % 10},$n"
    }
    // one batch per day
    val batches = (0 until size.days).map { b =>
      val cust, parts, supps, los = mutable.ArrayBuffer[String]()
      val day0 = Epoch + b * 86400L
      def emit(i: Int, c: Cust, at: Long): Unit = {
        nations += c.nation
        val n = Nations(c.nation)
        cust += f"C$i%07d,Customer#$i%07d,${n}_${c.city},${Segments(c.segment)},$n,${regionOf(c.nation)},${ts(at)}"
      }
      for (j <- 0 until size.newCustomers) {
        val c = Cust(rnd.nextInt(10), rnd.nextInt(5), rnd.nextInt(25))
        state += c; created += day0 + j; versions += 1
        emit(state.size - 1, c, day0 + j)
      }
      // changes land in the morning, before any of the day's orders; a
      // fifth of them repeat the current value (no new version)
      val changed = mutable.HashSet[Int]()
      for (j <- 0 until size.changes) {
        val i = rnd.nextInt(state.size)
        if (created(i) < day0 && changed.add(i)) {
          val old = state(i)
          val c = rnd.nextInt(5) match {
            case 0 => old
            case 1 => old.copy(nation = rnd.nextInt(25))
            case 2 => old.copy(segment = (old.segment + 1 + rnd.nextInt(4)) % 5)
            case _ => old.copy(city = (old.city + 1 + rnd.nextInt(9)) % 10)
          }
          if (c != old) { versions(i) += 1; state(i) = c }
          emit(i, c, day0 + 6 * 3600 + j)
        }
      }
      // parts and suppliers: new members plus re-deliveries of known ones
      for (_ <- 0 until size.newParts) { parts += part(nParts); nParts += 1 }
      for (_ <- 0 until size.newParts / 4) parts += part(rnd.nextInt(nParts))
      for (_ <- 0 until size.newSuppliers) { supps += supplier(nSupp); nSupp += 1 }
      for (_ <- 0 until size.newSuppliers / 2) supps += supplier(rnd.nextInt(nSupp))
      val noon = day0 + 12 * 3600
      var line = 0
      // four lines per order on average, as in TPC-H
      for (j <- 0 until size.lineorders) {
        if (line == 0 || rnd.nextInt(4) == 0) { orderKey += 1; line = 0 }
        line += 1
        // customers, parts and suppliers uniformly, as in TPC-H
        val c = rnd.nextInt(state.size)
        val q = 1 + rnd.nextInt(50)
        val e = q * (100L + rnd.nextInt(9900))
        val disc = rnd.nextInt(11)
        val r = (e * (100 - disc) + 50) / 100
        los += f"$orderKey,$line,C$c%07d,P${rnd.nextInt(nParts)}%07d,S${rnd.nextInt(nSupp)}%06d,${ts(noon + j)},$q,${cents(e)},$disc,${cents(r)}"
        factRows += 1; ext += e; rev += r
      }
      def write(name: String, header: String, lines: Seq[String]): (File, Long) = {
        val f = new File(dir, f"b$b%03d/$name.csv")
        (f, csv(f, header)(out => lines.foreach(out)))
      }
      val (cf, cb) = write("customer", "c_custkey,c_name,c_city,c_segment,n_name,r_name,change_ts", cust.toSeq)
      val (pf, pb) = write("part", "p_partkey,p_name,p_mfgr,p_category,p_brand", parts.toSeq)
      val (sf, sb) = write("supplier", "s_suppkey,s_name,s_city,s_nation", supps.toSeq)
      val (lf, lb) = write("lineorder", "lo_orderkey,lo_linenumber,c_custkey,p_partkey,s_suppkey,lo_orderts," +
        "lo_quantity,lo_extendedprice,lo_discount,lo_revenue", los.toSeq)
      StarBatch(cf, pf, sf, lf, (cust.size + parts.size + supps.size + los.size).toLong, cb + pb + sb + lb)
    }
    new StarData(batches, factRows, ext, rev,
      versions.zipWithIndex.map { case (v, i) => f"C$i%07d" -> v }.toMap,
      nations.size, nations.map(_ % 5).size, nParts, nSupp)
  }

  // ------------------------------------------------------------------
  // event stream for the monitors: skewed users, one slice of time per
  // batch, and a few users whose events all arrive one batch late
  // ------------------------------------------------------------------

  /** `batchSeconds` of event time per batch */
  final case class EventSize(batches: Int, events: Int, users: Int, batchSeconds: Long)

  val EventTypes: IndexedSeq[String] = IndexedSeq("signup", "purchase", "view", "click", "error")

  final class EventData(val batches: IndexedSeq[File], val rowsPer: IndexedSeq[Long],
                        val bytes: Long) {
    def rows: Long = rowsPer.sum
  }

  /** users with `id % 50 == 7` are late: their events of batch d arrive in
    * batch d+1 (in their own time order, so per-user arrival stays ordered)
    */
  def isLate(user: Long): Boolean = user % 50 == 7

  def events(seed: Long, size: EventSize, dir: File): EventData = {
    val rnd = new SplittableRandom(seed)
    var id = 0L
    // per batch: (on-time lines, late lines)
    val days = (0 until size.batches).map { d =>
      val t0 = Epoch + d * size.batchSeconds
      val now = mutable.ArrayBuffer[String]()
      val late = mutable.ArrayBuffer[String]()
      for (j <- 0 until size.events) {
        val u = rnd.nextDouble()
        val user = (u * u * size.users).toLong
        val ty = EventTypes(rnd.nextInt(EventTypes.size))
        val v = cents(math.round(-5000 * math.log(1 - rnd.nextDouble())))
        id += 1
        val line = s"$id,$user,$ty,${ts(t0 + j.toLong * size.batchSeconds / size.events)},$v"
        // the last batch's late events would arrive after the stream ends
        if (isLate(user) && d < size.batches - 1) late += line else now += line
      }
      (now, late)
    }
    var bytes = 0L
    val rows = mutable.ArrayBuffer[Long]()
    val files = (0 until size.batches).map { b =>
      val f = new File(dir, f"b$b%03d/events.csv")
      val lines = (if (b > 0) days(b - 1)._2 else Nil) ++ days(b)._1
      bytes += csv(f, "event_id,user_id,event_type,ts,value")(out => lines.foreach(out))
      rows += lines.size
      f
    }
    new EventData(files, rows.toIndexedSeq, bytes)
  }
}
