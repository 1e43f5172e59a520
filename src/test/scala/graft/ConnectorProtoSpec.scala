package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.sparkproject.connect.protobuf.Descriptors

import graft.streaming.ConnectorProto

/** Ties the hand-built gRPC descriptor ([[ConnectorProto]]) to the vendored
  * IDL it mirrors (`src/main/protobuf/connector.proto`). No `protoc` runs
  * offline, so a small parser below reads the proto3 subset the file uses
  * (messages, nested messages and enums, scalar/message/enum fields,
  * `repeated`, `map<,>`, `oneof`, one service) into the same flat model the
  * descriptor is read into, and the two models must be equal.
  */
class ConnectorProtoSpec extends AnyFunSuite {
  import ConnectorProtoSpec._

  private lazy val idl =
    new String(Files.readAllBytes(Paths.get("src/main/protobuf/connector.proto")), "UTF-8")

  test("connector.proto and ConnectorProto describe the same wire contract") {
    val parsed = ProtoParser.parse(idl)
    val built = fromDescriptor(ConnectorProto.fileDescriptor)
    // the parser saw the whole file: every message, enum and rpc
    assert(parsed.messages.size == 23 && parsed.enums.size == 4 && parsed.methods.size == 5,
      s"${parsed.messages.size} messages, ${parsed.enums.size} enums, ${parsed.methods.size} rpcs")
    assert(parsed.messages.values.count(_.mapEntry) == 2)
    for (name <- (parsed.messages.keySet ++ built.messages.keySet).toSeq.sorted)
      assert(parsed.messages.get(name) == built.messages.get(name), s"message $name")
    assert(parsed.enums == built.enums)
    assert(parsed.methods == built.methods)
    assert(parsed == built)
  }

  test("the comparison catches a drifted field number, type, label or oneof") {
    val base = ProtoParser.parse(idl)
    val drifts = Seq(
      "int64 offset = 3;\n}\n\nmessage OffsetCommit" -> "int64 offset = 4;\n}\n\nmessage OffsetCommit",
      "int32 tasks_max = 4;" -> "int64 tasks_max = 4;",
      "repeated KafkaRecord records = 1;" -> "KafkaRecord records = 1;",
      "map<string, string> headers = 7;" -> "map<string, bytes> headers = 7;",
      "    FlushResponse flush_response = 4;\n  }" -> "  }\n  FlushResponse flush_response = 4;",
      "UNASSIGNED = 4;" -> "UNASSIGNED = 5;")
    for ((from, to) <- drifts) {
      assert(idl.contains(from), s"fixture text not found: $from")
      assert(ProtoParser.parse(idl.replace(from, to)) != base, s"drift not seen: $to")
    }
  }
}

object ConnectorProtoSpec {
  /** One field: `kind` is the proto type name in upper case (`STRING`,
    * `MESSAGE`, ...), `typeName` the fully qualified message or enum name.
    */
  final case class Field(name: String, number: Int, kind: String, typeName: Option[String],
                         repeated: Boolean, oneof: Option[String])
  final case class Message(fields: Set[Field], oneofs: Seq[String], mapEntry: Boolean)
  final case class Method(input: String, output: String, clientStreaming: Boolean,
                          serverStreaming: Boolean)
  final case class Model(messages: Map[String, Message], enums: Map[String, Seq[(String, Int)]],
                         methods: Map[String, Method])

  def fromDescriptor(fd: Descriptors.FileDescriptor): Model = {
    def messages(d: Descriptors.Descriptor): Seq[Descriptors.Descriptor] =
      d +: d.getNestedTypes.asScala.toSeq.flatMap(messages)
    val all = fd.getMessageTypes.asScala.toSeq.flatMap(messages)
    val enums = fd.getEnumTypes.asScala.toSeq ++ all.flatMap(_.getEnumTypes.asScala)
    Model(
      all.map { d =>
        d.getFullName -> Message(
          d.getFields.asScala.map { f =>
            val typeName = f.getJavaType match {
              case Descriptors.FieldDescriptor.JavaType.MESSAGE => Some(f.getMessageType.getFullName)
              case Descriptors.FieldDescriptor.JavaType.ENUM => Some(f.getEnumType.getFullName)
              case _ => None
            }
            Field(f.getName, f.getNumber, f.getType.name, typeName, f.isRepeated,
              Option(f.getContainingOneof).map(_.getName))
          }.toSet,
          d.getOneofs.asScala.map(_.getName).toSeq,
          d.getOptions.getMapEntry)
      }.toMap,
      enums.map(e => e.getFullName -> e.getValues.asScala.map(v => v.getName -> v.getNumber).toSeq)
        .toMap,
      fd.getServices.asScala.toSeq.flatMap(s => s.getMethods.asScala.map(m =>
        s"${s.getFullName}.${m.getName}" -> Method(m.getInputType.getFullName,
          m.getOutputType.getFullName, m.isClientStreaming, m.isServerStreaming))).toMap)
  }

  /** A recursive-descent reader for the proto3 subset connector.proto uses. */
  object ProtoParser {
    private val scalars = Set("double", "float", "int32", "int64", "uint32", "uint64",
      "sint32", "sint64", "fixed32", "fixed64", "sfixed32", "sfixed64", "bool", "string", "bytes")

    private def tokenize(src: String): Vector[String] = {
      val noComments = src.linesIterator.map(l => l.indexOf("//") match {
        case -1 => l
        case i => l.substring(0, i)
      }).mkString("\n")
      """"[^"]*"|[A-Za-z_][A-Za-z0-9_.]*|\d+|[{}()<>=;,]""".r.findAllIn(noComments).toVector
    }

    /** A field before type resolution: its type as written and its scope. */
    private final case class RawField(name: String, number: Int, typ: String, repeated: Boolean,
                                      oneof: Option[String], scope: String)

    def parse(src: String): Model = {
      val toks = tokenize(src)
      var pos = 0
      def peek: String = toks(pos)
      def next(): String = { pos += 1; toks(pos - 1) }
      def expect(t: String): Unit = {
        val got = next()
        require(got == t, s"expected '$t' at token $pos, got '$got'")
      }
      def skipStatement(): Unit = while (next() != ";") ()

      var pkg = ""
      val msgFields = scala.collection.mutable.LinkedHashMap.empty[String, Seq[RawField]]
      val msgOneofs = scala.collection.mutable.Map.empty[String, Seq[String]]
      val mapEntries = scala.collection.mutable.Set.empty[String]
      val enums = scala.collection.mutable.Map.empty[String, Seq[(String, Int)]]
      val rawMethods = scala.collection.mutable.Map.empty[String, (String, String, Boolean, Boolean)]

      def parseEnum(scope: String): Unit = {
        val name = s"$scope.${next()}"
        expect("{")
        var values = Seq.empty[(String, Int)]
        while (peek != "}") {
          val v = next(); expect("="); values :+= v -> next().toInt; expect(";")
        }
        expect("}")
        enums(name) = values
      }

      def field(scope: String, oneof: Option[String], repeated: Boolean): RawField = {
        val typ = next(); val name = next(); expect("="); val number = next().toInt; expect(";")
        RawField(name, number, typ, repeated, oneof, scope)
      }

      def parseMessage(scope: String): Unit = {
        val name = s"$scope.${next()}"
        msgFields(name) = Seq.empty
        msgOneofs(name) = Seq.empty
        expect("{")
        while (peek != "}") next() match {
          case "message" => parseMessage(name)
          case "enum" => parseEnum(name)
          case "option" | "reserved" => skipStatement()
          case "oneof" =>
            val o = next(); msgOneofs(name) :+= o; expect("{")
            while (peek != "}") msgFields(name) :+= field(name, Some(o), repeated = false)
            expect("}")
          case "repeated" => msgFields(name) :+= field(name, None, repeated = true)
          case "map" =>
            expect("<"); val k = next(); expect(","); val v = next(); expect(">")
            val f = next(); expect("="); val number = next().toInt; expect(";")
            // protoc's lowering: a nested `<CamelField>Entry` message, key = 1, value = 2
            val entry = s"$name.${f.split('_').map(_.capitalize).mkString}Entry"
            msgFields(entry) = Seq(RawField("key", 1, k, repeated = false, None, entry),
              RawField("value", 2, v, repeated = false, None, entry))
            msgOneofs(entry) = Seq.empty
            mapEntries += entry
            msgFields(name) :+= RawField(f, number, entry, repeated = true, None, name)
          case _ => pos -= 1; msgFields(name) :+= field(name, None, repeated = false)
        }
        expect("}")
      }

      def parseService(): Unit = {
        val name = s"$pkg.${next()}"
        expect("{")
        while (peek != "}") {
          expect("rpc")
          val m = next()
          def arg(): (String, Boolean) = {
            expect("(")
            val streaming = peek == "stream"
            if (streaming) next()
            val t = next(); expect(")")
            t -> streaming
          }
          val (in, cs) = arg(); expect("returns"); val (out, ss) = arg()
          expect("{"); expect("}")
          rawMethods(s"$name.$m") = (in, out, cs, ss)
        }
        expect("}")
      }

      while (pos < toks.size) next() match {
        case "syntax" | "option" | "import" => skipStatement()
        case "package" => pkg = next(); expect(";")
        case "message" => parseMessage(pkg)
        case "enum" => parseEnum(pkg)
        case "service" => parseService()
        case t => throw new IllegalArgumentException(s"unexpected top-level token '$t'")
      }

      // proto scoping: look a name up from the innermost scope outwards;
      // a fully qualified one (`pkg.Msg.Entry`, as map fields carry) is itself
      val declared = msgFields.keySet ++ enums.keySet
      def resolve(typ: String, scope: String): String =
        if (declared(typ)) typ
        else Iterator.iterate(scope)(s => s.substring(0, s.lastIndexOf('.') max 0))
          .takeWhile(_.nonEmpty).map(s => s"$s.$typ")
          .find(declared)
          .getOrElse(throw new IllegalArgumentException(s"unresolved type $typ in $scope"))

      def resolved(f: RawField): Field =
        if (scalars(f.typ)) Field(f.name, f.number, f.typ.toUpperCase, None, f.repeated, f.oneof)
        else {
          val t = resolve(f.typ, f.scope)
          Field(f.name, f.number, if (enums.contains(t)) "ENUM" else "MESSAGE", Some(t),
            f.repeated, f.oneof)
        }

      Model(
        msgFields.map { case (n, fs) =>
          n -> Message(fs.map(resolved).toSet, msgOneofs(n), mapEntries(n))
        }.toMap,
        enums.toMap,
        rawMethods.map { case (m, (in, out, cs, ss)) =>
          m -> Method(resolve(in, pkg), resolve(out, pkg), cs, ss)
        }.toMap)
    }
  }
}
