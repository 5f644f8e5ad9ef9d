package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import java.nio.file.Path
import scala.jdk.CollectionConverters._

/** The seeded ontology an input set was generated from (`gen.py`). */
final case class Ontology(
    names: Vector[String],
    triples: Vector[(String, String, String)],
    preds: Vector[String],
    decoys: Vector[String]) {

  /** Triples with predicates normalized the way `Golden.normPred` does. */
  def normalizedTriples: Set[(String, String, String)] =
    triples.map { case (s, p, o) => (s, graft.corpus.Golden.normPred(p), o) }.toSet
}

/** One generated input set: the directory `gen.py` wrote and its ontology. */
final case class Inputs(dir: Path, ontology: Ontology) {
  def docsDir: String = dir.resolve("docs").toString
  def goldenDir: String = dir.resolve("golden").toString
  def aliasesDir: String = dir.resolve("aliases").toString
}

object Inputs {
  private def strings(n: JsonNode): Vector[String] =
    n.elements().asScala.map(_.asText()).toVector

  /** Loads the input set `gen.py` wrote to `dir`. */
  def load(dir: Path): Inputs = {
    val root = new ObjectMapper().readTree(dir.resolve("ontology.json").toFile)
    val triples = root.get("triples").elements().asScala.map { t =>
      (t.get(0).asText(), t.get(1).asText(), t.get(2).asText())
    }.toVector
    Inputs(dir, Ontology(strings(root.get("names")), triples, strings(root.get("preds")),
      strings(root.get("decoys"))))
  }
}
