package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON codec of `src/main`. Every JSON document graft writes
  * or reads goes through this mapper: the tools' records, the
  * TimeTravel manifests, the Delta commits and checkpoint pointer, the
  * Iceberg metadata and manifest key-value JSON, the Puffin footers,
  * the JoinAdvisor sidecars and the embeddings gateway's request and
  * response. Writers build a `ListMap` (it keeps key order), a case
  * class or an `ObjectNode` and encode it here, so every string — a
  * path, a column name, a tag, a schema — is escaped by Jackson, never
  * by hand; readers parse a tree here instead of scanning text. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}
