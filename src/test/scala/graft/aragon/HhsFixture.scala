package graft.aragon

import java.nio.file.{Files, Path}

/** A weekly HHS facility file in the feed's 127-column layout, written
  * by the test that reads it: identity and location columns, the 8 bed
  * metrics the loader keeps, then 105 other 7-day measures the loader
  * must carry into the quarantine untouched.
  */
object HhsFixture {

  val header: IndexedSeq[String] = {
    val lead = IndexedSeq("hospital_pk", "collection_week", "state", "ccn", "hospital_name",
      "address", "city", "zip", "hospital_subtype", "fips_code", "is_metro_micro") ++
      AragonSchema.bedMetrics ++ IndexedSeq("geocoded_hospital_address", "hhs_ids", "is_corrected")
    lead ++ (lead.size until 127).map(i => f"other_measure_$i%03d_7_day_avg")
  }
  require(header.size == 127 && header.distinct.size == 127)

  /** Facility `i`'s row for `week`, as the field values a reader sees
    * (`NA` reads as null). Every address holds a comma, so it is
    * written quoted; metrics cycle through values, `NA` and `-999999`.
    * `set` overrides columns by name.
    */
  def facility(i: Int, week: String, set: Map[String, String] = Map.empty): IndexedSeq[String] = {
    val v = Array.tabulate(header.size) { c =>
      (i * 7 + c) % 17 match {
        case 0 => "NA"
        case 1 => "-999999"
        case k => s"${i + c}.$k"
      }
    }
    val pk = f"H$i%04d"
    v(0) = pk; v(1) = week; v(2) = Seq("PA", "OH", "NY")(i % 3); v(3) = pk
    v(4) = s"Hospital $i"
    v(5) = s"$i Main St, Suite ${i % 4}"; v(6) = "Springfield"; v(7) = f"${15000 + i}%05d"
    v(8) = "Short Term"; v(9) = if (i % 9 == 0) "NA" else f"${42000 + i}%05d"
    v(10) = (i % 2 == 0).toString
    v(header.indexOf("geocoded_hospital_address")) = s"POINT (-80.$i 40.$i)"
    v(header.indexOf("hhs_ids")) = s"[$pk]"; v(header.indexOf("is_corrected")) = "false"
    set.foreach { case (c, x) => v(header.indexOf(c)) = x }
    v.toIndexedSeq
  }

  /** `rows` as a header'd CSV at `file`; returns its path. */
  def write(file: Path, rows: Seq[IndexedSeq[String]]): String = {
    def field(s: String) =
      if (s.exists(c => c == ',' || c == '"')) "\"" + s.replace("\"", "\"\"") + "\"" else s
    val lines = (header +: rows).map(_.map(field).mkString(","))
    Files.write(file, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    file.toString
  }

  /** The values Spark reads back for a written row: `NA` is null. */
  def asRead(row: IndexedSeq[String]): Seq[String] = row.map(s => if (s == "NA") null else s)
}
