package graft.core

/** Core row types of the graph-construction engine.
  *
  * The reference (SINTEF/LIACI_context) stores a Neo4j labeled property
  * graph; we materialize the same information as two partitioned tables
  * (`nodes`, `triples`) plus the wide `frames` fact table, per SURVEY.md §1.3.
  * Hot edge properties (reference: data/access/frame.py:68-72,77-86) are
  * promoted to typed nullable columns so Catalyst can push filters on them
  * (e.g. `distance < t` in demonstrator/data_manager.py:92-107).
  */

/** Input corpus row — exactly the shape of BASELINE.json `input_hint`:
  * an Iceberg-layout table of source files. One row = one "frame"
  * (unit of inspection); `repo` scopes rows like a ship/inspection.
  */
final case class CorpusRow(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String
)

/** Ontology dimension row (25 rows/ship template, data/access/ship.py:21-155). */
final case class OntologyEntry(visCode: String, name: String, parentVisCode: String)
