package graft

import java.nio.file.{Files, Paths}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session comes from `Sessions`: no other source file builds one. */
class SessionsSpec extends AnyFunSuite {

  test("SparkSession is built only in the session factory") {
    val builder = Pattern.quote("SparkSession" + ".builder").r // split so this file does not match itself
    val src = Paths.get("src")
    val builders = Files.walk(src).iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => src.relativize(p).toString -> builder.findAllMatchIn(Files.readString(p)).size)
      .filter(_._2 > 0).toMap
    assert(builders == Map(Paths.get("main", "scala", "graft", "Sessions.scala").toString -> 1))
  }
}
