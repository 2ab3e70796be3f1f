package graft.kg

/** Core typed data model for the KG-construction engine.
  *
  * Shapes mandated by BASELINE.json:15 (input) and BASELINE.json:6
  * (output); see SURVEY.md §1.2. All case classes are Encoder-friendly
  * (product encoders) so the whole pipeline stays inside Catalyst —
  * no RDDs (BASELINE.json:15).
  */

/** INPUT — exact corpus row shape from BASELINE.json:15:
  * (repo, path, commit, lang, content).
  */
case class CodeFile(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String)

/** Corpus row after ingest: per-row sha256 invariant column
  * (BASELINE.json:15 "content sha256 equality").
  */
case class HashedFile(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String,
    file_sha: String)

/** Stage-1 output (mention detection, SURVEY T1).
  * Invariant: content.substring(start, end) == surface.
  * kind ∈ {import, def, class, base, call}.
  */
case class Mention(
    fileSha: String,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    surface: String,
    norm: String,
    kind: String,
    line: Int,
    start: Int,
    end: Int)

/** Entity-dictionary row (broadcast lexicon, SURVEY S3).
  * One row per normalized alias; entityId is stable per canonical.
  */
case class DictEntry(
    norm: String,
    entityId: Long,
    canonical: String,
    kind: String)

/** OUTPUT — graph materialization (BASELINE.json:6,14): (subj, pred, obj)
  * triples, written partitioned by pred.
  */
case class Triple(
    subj: String,
    pred: String,
    obj: String,
    repo: String,
    path: String,
    commit: String,
    fileSha: String,
    score: Double)
