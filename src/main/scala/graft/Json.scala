package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The tools' one JSON codec: Bench and Verify build their records as
  * Scala maps (a `ListMap` keeps key order) and encode them here, so
  * every string — an exception message, a path, a query's SQL — is
  * escaped by Jackson, never by hand. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}
