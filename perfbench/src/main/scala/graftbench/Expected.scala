package graftbench

import graft.gen.SequenceGen._

/** Exact outputs of validating `SequenceGen.generate(rows, seed)` with
  * `graft.Main.builtinSpec`, derived from the generator's public
  * injection predicates alone (none of the counts depends on the seed).
  */
final case class Expected(failed: Long, violations: Long,
    uniqueness: Long, referential: Long, consistency: Long)

object Expected {
  def validate(rows: Long): Expected = {
    var failed, violations, uniq, ref, cons = 0L
    var id = 0L
    while (id < rows) {
      // row-level: each injected class fails its row once
      if (isBadToken(id)) { failed += 1; violations += 1 }     // items maximum
      if (isEmptyTokens(id)) { failed += 1; violations += 2 }  // minItems, n_tok minimum
      if (isNullDocId(id)) { failed += 1; violations += 1 }    // required
      if (isBadDocIdFmt(id)) {                                 // pattern, and a length
        failed += 1                                            // bound unless 11 chars
        violations += (if (s"BAD~$id".length == 11) 1 else 2)
      }
      // cross-row: one duplicated key, unknown source or n_tok mismatch each
      if (isDupId(id)) uniq += 1
      if (isBadSource(id)) ref += 1
      if (isBadNtok(id)) cons += 1
      id += 1
    }
    Expected(failed, violations, uniq, ref, cons)
  }
}
