package graft.catalog

import org.scalatest.funsuite.AnyFunSuite

/** LIKE-pattern matcher semantics (the Flight SQL metadata builder's filter
  * contract, applied in A15/A16).
  */
class MetadataSpec extends AnyFunSuite {

  test("percent matches any run including empty") {
    assert(Metadata.likeMatch("%", ""))
    assert(Metadata.likeMatch("def%", "default"))
    assert(Metadata.likeMatch("%fault", "default"))
    assert(Metadata.likeMatch("%efa%", "default"))
    assert(!Metadata.likeMatch("def%", "abc"))
  }

  test("underscore matches exactly one character") {
    assert(Metadata.likeMatch("user_", "users"))
    assert(!Metadata.likeMatch("user_", "user"))
    assert(!Metadata.likeMatch("user_", "userss"))
  }

  test("regex metacharacters in patterns are literal") {
    assert(Metadata.likeMatch("a.b", "a.b"))
    assert(!Metadata.likeMatch("a.b", "axb"))
    assert(Metadata.likeMatch("a(1)%", "a(1)x"))
    assert(!Metadata.likeMatch("a+", "aa"))
  }

  test("no wildcards = exact match") {
    assert(Metadata.likeMatch("users", "users"))
    assert(!Metadata.likeMatch("users", "user"))
  }

  test("backslash escapes a wildcard, as in Spark's LIKE") {
    assert(Metadata.likeMatch("a\\_b", "a_b"))
    assert(!Metadata.likeMatch("a\\_b", "axb"))
  }
}
