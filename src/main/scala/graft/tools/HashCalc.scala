package graft.tools
object HashCalc {
  def main(a: Array[String]): Unit = {
    // layout is ToolSession's local[n]/n; match it to the consumer of the
    // hash (EntrySpec pins assert under the TestSpark local[4]/4 session
    // — sketch-merge trees, e.g. approx_percentile's, are deterministic
    // PER LAYOUT but differ across layouts once the data is big enough
    // for per-partition partials to diverge)
    val spark = ToolSession()
    def cell(v: Any): String = v match {
      case null => "␀"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case s: Seq[_] => s.map(cell).mkString("[", ",", "]")
      case m: Map[_, _] =>
        m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }
          .sorted.mkString("{", ",", "}")
      case r: org.apache.spark.sql.Row => r.toSeq.map(cell).mkString("(", ",", ")")
      case x => x.toString
    }
    // optional leading arg: an absolute sf dir (default sf0.001)
    val (dir, qs) =
      if (a.nonEmpty && a.head.startsWith("/")) (a.head, a.tail)
      else ("/root/testdata/sf0.001", a)
    for (q <- qs) {
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val lines = df.collect().map(_.toSeq.map(cell).mkString("|")).sorted
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(lines.mkString("\n").getBytes("UTF-8"))
      println(s"HASH $q ${lines.length} ${md.digest().map("%02x".format(_)).mkString}")
    }
    spark.stop()
  }
}
