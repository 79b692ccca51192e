package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Plumbing shared by the seeded generators. Every generator is a pure
  * function of (seed, sizes): same arguments, byte-identical files.
  */
object GenIO {

  /** An independent random stream per (seed, purpose). */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  def writeText(f: File)(body: BufferedWriter => Unit): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8), 1 << 16)
    try body(w) finally w.close()
  }

  /** One parquet file written without Spark, so the bytes depend only on
    * the rows (no task ids, uuids or timestamps in names or footers).
    */
  def writeParquet(f: File, schema: String, rows: Iterator[SimpleGroupFactory => Group]): Unit = {
    f.getParentFile.mkdirs()
    if (f.exists()) f.delete()
    val mt: MessageType = MessageTypeParser.parseMessageType(schema)
    val factory = new SimpleGroupFactory(mt)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(f.toPath))
      .withType(mt)
      .withConf(new Configuration(false))
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach(r => w.write(r(factory))) finally w.close()
  }

  def days(d: LocalDate): Int = d.toEpochDay.toInt

  def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))

  val states: IndexedSeq[String] = IndexedSeq(
    "AK", "AL", "AR", "AS", "AZ", "CA", "CO", "CT", "DC", "DE", "FL", "GA", "GU",
    "HI", "IA", "ID", "IL", "IN", "KS", "KY", "LA", "MA", "MD", "ME", "MI", "MN",
    "MO", "MP", "MS", "MT", "NC", "ND", "NE", "NH", "NJ", "NM", "NV", "NY", "OH",
    "OK", "OR", "PA", "PR", "RI", "SC", "SD", "TN", "TX", "UT", "VA", "VI", "VT",
    "WA", "WI", "WV", "WY")

  val ownerships: IndexedSeq[String] = IndexedSeq(
    "Government - Federal", "Government - State", "Proprietary",
    "Voluntary non-profit - Private", "Voluntary non-profit - Church",
    "Physician")

  val hospitalTypes: IndexedSeq[String] = IndexedSeq(
    "Acute Care Hospitals", "Critical Access Hospitals", "Childrens")

  private val streets = IndexedSeq("MAIN ST", "OAK AVE", "HOSPITAL DR", "MEDICAL PKWY",
    "CENTER BLVD", "RIVER RD", "PARK LN", "HILL ST")
  private val cities = IndexedSeq("SPRINGFIELD", "FRANKLIN", "GREENVILLE", "MADISON",
    "CLINTON", "SALEM", "FAIRVIEW", "GEORGETOWN", "RIVERSIDE", "ASHLAND")

  /** Static attributes of one synthetic hospital. */
  final case class Hospital(pk: String, name: String, state: String, address: String,
                            city: String, zip: String, fips: Option[String],
                            geo: Option[String])

  def hospital(r: SplittableRandom, idx: Int): Hospital = {
    val st = states(r.nextInt(states.size))
    val street = s"${100 + r.nextInt(9000)} ${pick(r, streets)}"
    // a third of the addresses carry an embedded comma (quoted in CSV)
    val address = if (r.nextInt(3) == 0) s"$street, SUITE ${1 + r.nextInt(400)}" else street
    Hospital(
      pk = f"${idx % 100}%02d${idx / 100}%05d",
      name = s"${pick(r, cities)} ${pick(r, IndexedSeq("GENERAL", "REGIONAL", "COMMUNITY", "MEMORIAL"))} HOSPITAL $idx",
      state = st, address = address, city = pick(r, cities),
      zip = f"${r.nextInt(99999)}%05d",
      fips = if (r.nextInt(10) == 0) None else Some(f"${r.nextInt(56000)}%05d"),
      geo = if (r.nextInt(8) == 0) None
            else Some(f"POINT (${-70 - r.nextInt(50000) / 1000.0}%.3f ${25 + r.nextInt(20000) / 1000.0}%.3f)"))
  }

  def quote(s: String): String = "\"" + s + "\""
}
