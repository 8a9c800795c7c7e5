package perfbench

import graft.queries._

/** Prints every library entry with its module, one `name<TAB>module` a line,
 * in `SparkEntry.allDefs` order. Used by perfbench/entry_profile.py. */
object ListEntries {
  def main(args: Array[String]): Unit = {
    val modules = Seq("Relational" -> Relational.defs, "LlmOps" -> LlmOps.defs,
      "Advanced" -> Advanced.defs, "StreamingOps" -> StreamingOps.defs,
      "SchemaQueries" -> SchemaQueries.defs, "SourceOps" -> SourceOps.defs,
      "Battery" -> Battery.defs, "TrainPrep" -> TrainPrep.defs, "Curation" -> Curation.defs)
    for ((module, defs) <- modules; d <- defs) println(s"${d.name}\t$module")
  }
}
