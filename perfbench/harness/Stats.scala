package perfbench

import org.apache.spark.sql.Row

/** Pure helpers: percentiles, the registry strata, canonical output hashes
  * and a minimal JSON writer. No Spark session is needed here, so the
  * self-tests exercise all of it directly.
  */
object Stats {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Samples that must lie beyond a reported tail value. */
  val TailBeyond = 10

  /** The highest percentile with at least [[TailBeyond]] samples beyond
    * it: nearest-rank, that is the (TailBeyond + 1)-th largest sample.
    * Returns (value, percentile, sample count); None when there are too
    * few samples for any such percentile.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] = {
    val n = xs.size
    if (n <= TailBeyond) None
    else {
      val s = xs.sorted
      Some((s(n - TailBeyond - 1), 100.0 * (n - TailBeyond) / n, n))
    }
  }

  /** Query family: the letters before the first digit (`w13_burn_rate` is
    * family `w`).
    */
  def family(name: String): String = name.takeWhile(_.isLetter)

  private def number(name: String): Int =
    name.dropWhile(_.isLetter).takeWhile(_.isDigit) match {
      case "" => 0
      case d  => d.toInt
    }

  /** Stratum `seed mod 3` of the registry: within each family, ordered by
    * the number in the name, the queries whose rank is congruent to the
    * seed mod 3. The three strata partition the registry.
    */
  def stratum(names: Seq[String], seed: Long): Seq[String] = {
    val s = Math.floorMod(seed, 3L).toInt
    names.groupBy(family).toSeq.sortBy(_._1).flatMap { case (_, members) =>
      members.sortBy(n => (number(n), n)).zipWithIndex
        .collect { case (n, rank) if rank % 3 == s => n }
    }
  }

  /** Deterministic Fisher-Yates shuffle driven by the run seed. */
  def shuffle[A](xs: Seq[A], seed: Long): Seq[A] = {
    val a = xs.toArray[Any]
    val rnd = new java.util.Random(seed)
    for (i <- a.indices.reverse if i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }

  /** Open-loop latency of one request: from when it was due, not from when
    * the generator got round to sending it, so a stall charges every
    * request queued behind it.
    */
  def openLoopLatencyMs(dueMs: Double, doneMs: Double): Double = doneMs - dueMs

  // ---------------------------------------------------------------- hashing

  private val Sig = new java.math.MathContext(9)

  /** Canonical text of one value: floating values to 9 significant digits
    * (aggregation order moves the last bits), collections element-wise,
    * maps sorted by key.
    */
  def canon(v: Any): String = v match {
    case null => "NULL"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else new java.math.BigDecimal(d).round(Sig).stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.round(Sig).stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Order-insensitive hash of a result: columns sorted by name, rows
    * rendered canonically and sorted, SHA-256 over the lines.
    */
  def resultHash(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  // ------------------------------------------------------------------- json

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** JSON for a value tree of Map / Seq / String / numbers / Boolean /
    * Option. NaN and infinities become null.
    */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => jsonStr(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => jsonStr(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => jsonStr(other.toString)
  }
}
