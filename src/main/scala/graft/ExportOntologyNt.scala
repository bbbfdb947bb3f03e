package graft

import org.apache.spark.sql.functions._

import graft.fixture.OntologyFixture
import graft.io.NTriples

/** Utility: export the fixture ontology as per-acronym N-Triples submission
  * directories (the layout [[OntologyTables.fromNTriples]] reads — one
  * subdir per ontology; edges ride with the first submission). Pairs with
  * the mgrep TSV sink as the second interop surface: `graft.Main <sfDir>
  * <workDir> <exportDir>` then runs the flagship from real RDF files. */
object ExportOntologyNt {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.length > 0) args(0) else "/tmp/graft-nt-export"
    val spark = Main.session("graft-export-ontology-nt")
    val onts = NTriples.writeSubmissions(OntologyFixture.conceptsDf(spark),
      OntologyFixture.edgesDf(spark), outDir)
    println(s"exported ${onts.length} submissions to $outDir")
    spark.stop()
  }
}
