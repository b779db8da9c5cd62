package graft

/** Transitive closure ([[graft.closure.TransitiveClosure]]): an
  * executor-side ancestor walk (the `ancestors_of` generator over a
  * broadcast edge table) up to a million distinct edges; above that a
  * prefix-doubling fixpoint with cycle-safe self-loop elimination on the
  * library's one round driver ([[graft.Lineage.fixpoint]]:
  * reliable-checkpoint support, per-round retirement, loud
  * non-convergence); and semi-naive incremental maintenance (`addEdges`)
  * for code-system updates.
  */
package object closure
