package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cluster session profile: the S3A conf block must carry endpoint,
  * credentials, path-style access, and the magic committer wiring —
  * the set a cluster deploy against an S3-compatible store needs
  * (reference parity: `main.py:68-92`). Pure-map spec, no egress; the
  * defaults spec reads the shared test session's conf.
  */
class GraftSessionSpec extends AnyFunSuite {

  private val profile = GraftSession.S3Profile(
    endpoint = "http://object-store:9000",
    accessKey = "ak",
    secretKey = "sk")

  test("s3aConf carries endpoint, creds, path-style and ssl flags") {
    val c = GraftSession.s3aConf(profile)
    assert(c("spark.hadoop.fs.s3a.endpoint") == "http://object-store:9000")
    assert(c("spark.hadoop.fs.s3a.access.key") == "ak")
    assert(c("spark.hadoop.fs.s3a.secret.key") == "sk")
    assert(c("spark.hadoop.fs.s3a.path.style.access") == "true")
    assert(c("spark.hadoop.fs.s3a.connection.ssl.enabled") == "false")
    assert(c("spark.hadoop.fs.s3a.impl") == "org.apache.hadoop.fs.s3a.S3AFileSystem")
  }

  test("s3aConf enables the magic committer (O(1) task commits on object stores)") {
    val c = GraftSession.s3aConf(profile)
    assert(c("spark.hadoop.fs.s3a.committer.magic.enabled") == "true")
    assert(c("spark.hadoop.fs.s3a.committer.name") == "magic")
    assert(c("spark.hadoop.mapreduce.outputcommitter.factory.scheme.s3a") ==
      "org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory")
  }

  test("the test session runs with the engine's session defaults") {
    GraftSession.Defaults.foreach { case (k, v) => assert(TestSpark.spark.conf.get(k) == v, k) }
  }

  test("profile toggles flow through") {
    val c = GraftSession.s3aConf(profile.copy(pathStyle = false, ssl = true))
    assert(c("spark.hadoop.fs.s3a.path.style.access") == "false")
    assert(c("spark.hadoop.fs.s3a.connection.ssl.enabled") == "true")
  }
}
