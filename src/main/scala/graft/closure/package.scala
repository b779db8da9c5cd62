package graft

/** Distributed transitive closure
  * ([[graft.closure.TransitiveClosure]]): a prefix-doubling fixpoint
  * with cycle-safe self-loop elimination on the library's one round
  * driver ([[graft.Lineage.fixpoint]]: reliable-checkpoint support,
  * per-round retirement, loud non-convergence), and semi-naive
  * incremental maintenance (`addEdges`) for code-system updates.
  */
package object closure
