package graft.model

import java.sql.Timestamp

/** Core row types of the engine (SURVEY.md §1.3).
  *
  * The reference's data model (reference `graph.h:10-45`: Graph/Vertex/VertexList
  * pointer structures with scratch fields) maps to immutable typed rows; scratch
  * fields (`visited`, `lowPoint`, `d` in `graph.h:14-17`) become iteration-state
  * columns (`component`, `rank`, `label`) carried across iterations.
  */
object Schemas {

  /** Common-Crawl-style page row, per BASELINE.json input_hint. */
  final case class Page(
      url: String,
      warc_ts: Timestamp,
      html: Array[Byte],
      text: String,
      lang: String)

  /** Directed edge. Undirected graphs are represented as both directed
    * half-edges, mirroring reference `loading.c:407-425`. */
  final case class Edge(src: Long, dst: Long)

  /** Vertex with string label (reference `Vertex.label`, `graph.h:11`). */
  final case class Vertex(vid: Long, label: String)

  /** Connected-component label (reference `listComponents.c:306-319`). */
  final case class Component(vid: Long, component: Long)

  final case class Degree(vid: Long, degree: Long)
}
