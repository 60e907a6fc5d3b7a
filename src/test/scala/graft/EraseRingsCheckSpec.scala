package graft

import java.nio.file.Files
import graft.tools.EraseRingsCheck

/** `tools/EraseRingsCheck` over a fresh dump of the nine erase-geometry
  * queries (the outputs with no DuckDB twin). */
class EraseRingsCheckSpec extends SparkSpec {

  test("EraseRingsCheck: the nine wnv_erase_* outputs read ok") {
    val out = Files.createTempDirectory("erase_rings").toString
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n =>
      n.startsWith("wnv_erase_") && n != "wnv_erase_selection" &&
        n != "wnv_erase_poly_sub_selection")
    assert(names.size === 9, names)
    names.foreach(q => SparkEntry.queries(q)(spark, sf).coalesce(1)
      .write.parquet(s"$out/$q"))
    val results = EraseRingsCheck.check(spark, sf, out)
    assert(results.map(_._1).sorted === names)
    val bad = results.filterNot(_._2)
    assert(bad.isEmpty, bad.map(r => s"${r._1}: ${r._6}").mkString("\n"))
  }
}
