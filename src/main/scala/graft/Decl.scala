package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.JsonParser
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

/** The one reader for the engine's declarative files: expectation
  * suites, checkpoints, curation recipes and scorer configs. A file
  * parses to a [[Decl.Node]], and each loader reads its typed value out
  * of it with strict getters:
  *
  *  - a getter checks the value's JSON type and names the key's path on
  *    a mismatch. A long is an integral number, a double any number, a
  *    boolean a boolean, a string a non-empty string, an array a
  *    non-empty array of its element type. Nothing is coerced: `"abc"`
  *    is not 0.0, `2.5` is not 2 and `"yes"` is not false.
  *  - an optional getter reads an absent key or an explicit null as
  *    `None`; a required getter rejects both.
  *  - a key given twice, or content after the first document, is a
  *    parse error.
  *  - every getter records its key, and once the loader has built its
  *    value, any key that is present but was never read is rejected, in
  *    the root and in every object read from it. A key is known if and
  *    only if the loader reads it, so a misspelt key fails instead of
  *    leaving a default.
  */
object Decl {

  // A repeated key and content after the first document would
  // otherwise drop a declaration without a word.
  private def strict(m: ObjectMapper) = m
    .enable(JsonParser.Feature.STRICT_DUPLICATE_DETECTION)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
  private val jsonMapper = strict(new ObjectMapper())
  private val yamlMapper = strict(new ObjectMapper(new YAMLFactory()))

  /** Parse document text (`yaml = true` for YAML, default JSON), build
    * a value from it with `read`, then reject every key `read` left
    * unread. The document must be an object. */
  def parse[A](text: String, yaml: Boolean = false)(read: Node => A): A = {
    val json = (if (yaml) yamlMapper else jsonMapper).readTree(text)
    require(json != null && json.isObject,
      s"a declarative file must hold an object, got '$json'")
    val root = new Node(json, "")
    val value = read(root)
    root.done()
    value
  }

  /** [[parse]] the file at `path`, read from disk or, when no such file
    * exists, from the classpath (leading slash optional): files that
    * ship with the engine load whatever the caller's working directory
    * is. The suffix picks the format, `.yaml`/`.yml` YAML and anything
    * else JSON. Every failure to find, read, parse or type the file is
    * an IllegalArgumentException whose message starts with `path`: a
    * suite loaded from a checkpoint, or a Jackson error (which prints
    * `Source: REDACTED`), would otherwise not say which file is bad. */
  def load[A](path: String)(read: Node => A): A =
    try {
      val p = Paths.get(path)
      val text =
        if (Files.exists(p)) Files.readString(p)
        else {
          val in = getClass.getClassLoader.getResourceAsStream(path.stripPrefix("/"))
          require(in != null, "not found on disk or classpath")
          try new String(in.readAllBytes(), StandardCharsets.UTF_8)
          finally in.close()
        }
      parse(text, path.endsWith(".yaml") || path.endsWith(".yml"))(read)
    } catch {
      case NonFatal(e) => throw new IllegalArgumentException(s"$path: ${e.getMessage}", e)
    }

  /** A typed read of one value: `(value, its path)` to the value or an
    * IllegalArgumentException naming the path. */
  private type Read[A] = (JsonNode, String) => A

  private def scalar[A](kind: String, ok: JsonNode => Boolean,
                        get: JsonNode => A): Read[A] = (v, where) => {
    require(ok(v), s"$where must be $kind, got '$v'")
    get(v)
  }
  private val string = scalar("a non-empty string",
    v => v.isTextual && !v.asText().isEmpty, _.asText())
  private val long = scalar("an integer",
    v => v.isIntegralNumber && v.canConvertToLong, _.asLong())
  private val double = scalar("a number", _.isNumber, _.asDouble())
  private val boolean = scalar("a boolean", _.isBoolean, _.asBoolean())
  private def array[A](elem: Read[A]): Read[Seq[A]] = (v, where) => {
    require(v.isArray && v.size() > 0, s"$where must be a non-empty array, got '$v'")
    v.elements().asScala.zipWithIndex.map { case (e, i) => elem(e, s"$where[$i]") }.toSeq
  }
  private def orNull[A](r: Read[A]): Read[Option[A]] =
    (v, where) => if (v.isNull) None else Some(r(v, where))

  /** One object of a declarative file, with the keys read from it. */
  final class Node private[Decl] (json: JsonNode, path: String) {
    private val read = mutable.LinkedHashSet.empty[String]
    private val children = mutable.LinkedHashMap.empty[String, Node]

    private val child: Read[Node] = (v, where) => {
      require(v.isObject, s"$where must be an object, got '$v'")
      children.getOrElseUpdate(where, new Node(v, where))
    }

    private def at(key: String) = if (path.isEmpty) key else s"$path.$key"

    private def opt[A](key: String, r: Read[A]): Option[A] = {
      read += key
      Option(json.get(key)).filterNot(_.isNull).map(r(_, at(key)))
    }
    private def req[A](key: String, r: Read[A]): A =
      opt(key, r).getOrElse(throw new IllegalArgumentException(
        s"missing required key ${at(key)}; present here: " +
          json.fieldNames().asScala.mkString(", ")))

    def str(key: String): String = req(key, string)
    def strOpt(key: String): Option[String] = opt(key, string)
    def long(key: String): Long = req(key, Decl.long)
    def longOpt(key: String): Option[Long] = opt(key, Decl.long)
    def double(key: String): Double = req(key, Decl.double)
    def doubleOpt(key: String): Option[Double] = opt(key, Decl.double)
    def boolOpt(key: String): Option[Boolean] = opt(key, boolean)
    def strings(key: String): Seq[String] = req(key, array(string))
    def stringsOpt(key: String): Option[Seq[String]] = opt(key, array(string))
    def doubles(key: String): Seq[Double] = req(key, array(Decl.double))
    def obj(key: String): Node = req(key, child)
    def objOpt(key: String): Option[Node] = opt(key, child)
    def objs(key: String): Seq[Node] = req(key, array(child))

    /** An object whose keys are data (names of the caller's choosing)
      * and whose values are numbers. */
    def doubleMapOpt(key: String): Option[Map[String, Double]] =
      opt(key, (v, where) => {
        require(v.isObject, s"$where must be an object, got '$v'")
        v.properties().asScala
          .map(e => e.getKey -> Decl.double(e.getValue, s"$where.${e.getKey}")).toMap
      })

    /** A non-empty array of `[lo, hi]` number pairs, null for an open
      * end. */
    def ranges(key: String): Seq[(Option[Double], Option[Double])] =
      req(key, array((v, where) => array(orNull(Decl.double))(v, where) match {
        case Seq(lo, hi) => (lo, hi)
        case _ => throw new IllegalArgumentException(s"$where must be [lo, hi], got '$v'")
      }))

    /** Reject every key of this object, and of each object read from it,
      * that no getter read. [[parse]] calls it once the value is built. */
    private[Decl] def done(): Unit = {
      val unknown = json.fieldNames().asScala.filterNot(read).map(at).toSeq
      require(unknown.isEmpty,
        s"unknown key(s) ${unknown.mkString(", ")}; known here: " +
          read.toSeq.sorted.mkString(", "))
      children.values.foreach(_.done())
    }
  }
}
