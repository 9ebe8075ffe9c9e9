package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.spark.text.UrlCanon.canonicalize

/** URL canonicalization (the pre-dedup crawl normalization): RFC 3986 §6
  * case/port/fragment rules, tracking-param strip, param sort, idempotence,
  * and conservative passthrough for everything else. */
class UrlCanonSpec extends AnyFunSuite {

  test("scheme/host lowercase, default ports stripped, other ports kept") {
    assert(canonicalize("HTTPS://Example.COM/path") == "https://example.com/path")
    assert(canonicalize("https://example.com:443/a") == "https://example.com/a")
    assert(canonicalize("http://example.com:80/a") == "http://example.com/a")
    assert(canonicalize("http://example.com:8080/a") == "http://example.com:8080/a")
    assert(canonicalize("https://example.com:80/a") == "https://example.com:80/a") // not default for https
  }

  test("fragment dropped, empty path becomes /, userinfo preserved") {
    assert(canonicalize("https://example.com/a#sec") == "https://example.com/a")
    assert(canonicalize("https://example.com") == "https://example.com/")
    assert(canonicalize("https://example.com#x") == "https://example.com/")
    assert(canonicalize("https://User:pw@Example.com/a") == "https://User:pw@example.com/a")
  }

  test("query: tracking params dropped, rest sorted, empty query removed") {
    assert(canonicalize("https://e.com/a?b=2&a=1") == "https://e.com/a?a=1&b=2")
    assert(canonicalize("https://e.com/a?utm_source=x&a=1&fbclid=z") == "https://e.com/a?a=1")
    assert(canonicalize("https://e.com/a?utm_campaign=only") == "https://e.com/a")
    assert(canonicalize("https://e.com/a?&&a=1&") == "https://e.com/a?a=1")
    // duplicate keys kept, sorted by (key, value); bare flags kept
    assert(canonicalize("https://e.com/a?k=2&k=1&flag") == "https://e.com/a?flag&k=1&k=2")
    // 'utm_' must match the KEY prefix, not a value
    assert(canonicalize("https://e.com/a?x=utm_source") == "https://e.com/a?x=utm_source")
  }

  test("conservative passthrough: non-URLs, IPv6 literals, percent-encoding") {
    assert(canonicalize("not a url") == "not a url")
    assert(canonicalize("mailto:a@b.c") == "mailto:a@b.c") // no ://
    assert(canonicalize(null) == null)
    assert(canonicalize("https://[2001:DB8::1]:443/a") == "https://[2001:db8::1]/a")
    assert(canonicalize("https://[2001:db8::1]/a") == "https://[2001:db8::1]/a")
    assert(canonicalize("https://e.com/p%20q?A=%2F") == "https://e.com/p%20q?A=%2F")
  }

  test("fuzz: random byte soup never throws, output is always idempotent") {
    val rng = new graft.core.SplitMix64(0xF00DL)
    val alphabet = "aZ09:/?#@&=%._-[]é中 \t".toCharArray
    (0 until 2000).foreach { _ =>
      val len = (Math.floorMod(rng.nextLong(), 40L) + 1).toInt
      val s = new String(Array.fill(len)(
        alphabet(Math.floorMod(rng.nextLong(), alphabet.length.toLong).toInt)))
      val once = canonicalize(s) // must not throw on any input
      assert(canonicalize(once) == once, s"not idempotent for '$s' -> '$once'")
    }
  }

  test("idempotent on a messy zoo") {
    val zoo = Seq(
      "HTTPS://A.B:443/x/y?z=1&utm_source=s#f", "http://e.com", "https://e.com/a?b&a",
      "ftp://Files.Example.com:21/pub", "https://u@H.Co:444/p?k=v#q")
    zoo.foreach { u =>
      val once = canonicalize(u)
      assert(canonicalize(once) == once, u)
    }
  }
}
