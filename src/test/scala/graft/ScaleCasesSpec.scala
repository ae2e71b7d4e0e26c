package graft

import com.fasterxml.jackson.databind.ObjectMapper

import java.util.Locale

/** The scale harness: 36 uniquely named cases, every planted-answer check
  * holding at a small size, and lines that are JSON under any default
  * locale. */
class ScaleCasesSpec extends SparkSpec {
  private val n = 10000L

  /** The lines `selected` print at size [[n]], asserting none failed. */
  private def lines(selected: Seq[ScaleCase[_, _]]): Seq[String] = {
    val out = Seq.newBuilder[String]
    val failed = ScaleBench.run(spark, n, 4, selected)(out += _)
    assert(failed.isEmpty, failed.mkString("\n"))
    out.result()
  }

  test("the 36 cases have the listed names, each once") {
    val names = ScaleBench.cases.map(_.name)
    assert(names == Seq(
      "probability_join", "wind_field", "related_table_flatten", "minhash_signature",
      "asof_join", "minhash_lsh_pairs", "lsh_skew_cap", "fuzzy_decontam",
      "connected_components", "ann_bruteforce", "ann_lsh", "nn_descent", "range_search",
      "semantic_dedup", "pagerank", "sorted_neighborhood", "skyline", "kmv_overlap",
      "span_dedup", "label_prop", "stream_span_dedup", "span_stream_bucketed", "scd2",
      "sssp", "stream_boilerplate", "scc", "kcore", "unigram", "link_prediction",
      "phrase_search", "hierarchy", "entropy_vocab", "wordpiece", "blocklist",
      "perplexity", "global_rank"))
    assert(names.distinct == names)
  }

  test("every case with a planted-answer check passes it at a small size") {
    val checked = ScaleBench.cases.filter(_.check.isDefined)
    assert(checked.size == 20)
    val metrics = lines(checked).map(l => new ObjectMapper().readTree(l).get("metric").asText)
    assert(metrics == checked.map(c => s"scale_${c.name}"))
  }

  test("under a German default locale a case's line is still JSON") {
    val default = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      val Seq(line) = lines(ScaleBench.cases.filter(_.name == "pagerank"))
      val json = new ObjectMapper().readTree(line)
      assert(json.get("metric").asText == "scale_pagerank")
      Seq("mass", "sec", "edge_rounds_per_sec").foreach(k => assert(json.get(k).isNumber, k))
    } finally Locale.setDefault(default)
  }
}
