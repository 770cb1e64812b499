package graft

import org.scalatest.funsuite.AnyFunSuite

/** The dev mains' query selector and plan normalizer: pure, no session. */
class DevSelectSpec extends AnyFunSuite {

  private val names = SparkEntry.registry.map(_.name)
  private def sel(arg: String, from: Seq[String] = names) = DevSelect.select(from, Some(arg))

  test("an exact name beats a prefix that also matches it") {
    assert(sel("k1_pagerank") == Right(Seq("k1_pagerank")))
    assert(sel("k1") == Right(Seq("k1_pagerank")))
    // no registered name is a prefix of another today; the rule still holds
    val nested = Seq("k1_pagerank_until", "k1_pagerank", "k2_components")
    assert(sel("k1_pagerank", nested) == Right(Seq("k1_pagerank")))
    assert(sel("k1_p", nested) == Right(Seq("k1_pagerank", "k1_pagerank_until")))
  }

  test("a prefix selects its family, sorted") {
    assert(sel("k") == Right(names.filter(_.startsWith("k")).sorted) && sel("k").toOption.get.size == 8)
    // a plain string prefix: z1 takes z10..z18 along, z1_ does not
    assert(sel("z1").toOption.get.size > 1 && sel("z1_").toOption.get.size == 1)
  }

  test("no argument, or an empty one, selects all 223") {
    assert(names.distinct.size == 223)
    assert(DevSelect.select(names, None) == Right(names.sorted) && sel("") == Right(names.sorted))
  }

  test("an unknown name is an error that lists the registered names") {
    val err = sel("k1_pagerankk").swap.toOption.get
    assert(err.contains("'k1_pagerankk'") && names.forall(n => err.contains(s"\n  $n")))
  }

  test("normalize removes expression ids and run dirs, and keeps real changes") {
    val a = """Output [2]: [doc_id#12L, r#13L]
              |Location: InMemoryFileIndex [file:/s/run_3f2a9c1d-4b7/part-00000-e05d3abb-0a66-43cc-91e2-66bf1d43d5ce-c000.parquet]
              |(2) HashAggregate
              |Keys [1]: [doc_id#12L]
              |Results [2]: [doc_id#12L, sum(r#13L)#40L AS c#41L]
              |Arguments: hashpartitioning(doc_id#12L, 4), ENSURE_REQUIREMENTS, [plan_id=7]""".stripMargin
    val b = Seq("#12L" -> "#101L", "#13L" -> "#102L", "#40L" -> "#150L", "#41L" -> "#151L",
      "run_3f2a9c1d-4b7" -> "run_e09b77aa-c12", "plan_id=7" -> "plan_id=31",
      "00000-e05d3abb-0a66-43cc-91e2-66bf1d43d5ce" -> "00001-a15e7bc2-93f0-4e1d-8c2a-0d4b9e6f7a21")
      .foldLeft(a) { case (s, (from, to)) => s.replace(from, to) }
    val norm = DevSelect.normalize _
    assert(a != b && norm(a) == norm(b))
    // pointing a reference at another attribute is a real change, and so is an operator change
    assert(norm(a.replace("Keys [1]: [doc_id#12L]", "Keys [1]: [doc_id#13L]")) != norm(a))
    assert(norm(b.replace("HashAggregate", "SortAggregate")) != norm(a))
  }
}
