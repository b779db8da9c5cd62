package graft

/** Terminology services: value sets, concept maps, hierarchies (the
  * reference's codes/valuesets/mappings surface).
  *
  *   - [[graft.terminology.ValueSets]] / [[graft.terminology.ConceptMaps]]
  *     / [[graft.terminology.Hierarchies]] — load, version, persist
  *     (partitioned tables + guarded inserts), latest-version
  *     resolution, duplicate detection; each verb is written once over
  *     the library-internal `CollectionKind`.
  *   - [[graft.terminology.ValueSetUdfs]] — `in_valueset` membership
  *     (UDF and Catalyst forms over broadcast sets, with the push/pop
  *     stack) and `translate` lookups.
  *   - `graft.terminology.Broadcastable` (library-internal) —
  *     broadcastable membership / mapping structures: descendant
  *     expansion, reference resolution, concept-map delegation
  *     (topological chaining).
  *   - [[graft.terminology.Loinc]] / [[graft.terminology.Snomed]] —
  *     LOINC multiaxial CSV and SNOMED RF2 relationship readers.
  */
package object terminology
