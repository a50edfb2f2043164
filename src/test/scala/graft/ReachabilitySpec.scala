package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.xbean.asm9.{ClassReader, Handle, Opcodes, Type}
import org.apache.xbean.asm9.tree.{ClassNode, FieldInsnNode, InvokeDynamicInsnNode, LdcInsnNode, MethodInsnNode, TypeInsnNode}
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Every method graft compiles is reached from one of its entry points, or
  * is allow-listed with the role that keeps it. The call graph is read from
  * the compiled classes, so public code that only its own spec calls fails
  * here, where the unused-code lint sees only private members. */
class ReachabilitySpec extends AnyFlatSpec with Matchers {
  import ReachabilitySpec._

  "graft's compiled methods" should "all be reached from an entry point or carry an allow-listed role" in {
    val graph = Graph.load(classesDir)
    graph.classes.size should be > 200
    val (flagged, stale) = check(graph, roots(graph))
    withClue(s"unreached, neither deleted nor allow-listed with a role:\n  ${flagged.mkString("\n  ")}\n") {
      flagged shouldBe empty
    }
    withClue(s"allow-listed but reached from an entry point, or gone: ${stale.mkString(", ")}\n") {
      stale shouldBe empty
    }
  }
}

object ReachabilitySpec {

  /** Methods no entry point reaches, each kept for the one-line role given.
    * What an entry calls needs no entry of its own. */
  val Allowed: Map[String, String] = Map(
    // references: the spelling a spec checks a compiled kernel against
    "graft.pipeline.Dedup.polyHash"              -> "HOF reference of graft_poly_hash (CompiledKernelSpec)",
    "graft.pipeline.Dedup.shingleSet"            -> "HOF reference of graft_shingles (PipelineSpec)",
    "graft.pipeline.Dedup.wordHashes"            -> "HOF reference of graft_word_hashes (PipelineSpec)",
    "graft.pipeline.Dedup.minhashSignature"      -> "HOF reference of graft_minhash (PipelineSpec)",
    "graft.pipeline.Dedup.winnowFingerprintsHof" -> "HOF reference of graft_winnow (PipelineSpec)",
    "graft.pipeline.Dedup.winnowFingerprints"    -> "graft_winnow as a relation: the kernel side of the winnow tie-rule and HOF parity cases (PipelineSpec)",
    "graft.pipeline.Similarity.lshBucket"        -> "HOF reference of graft_lsh_buckets (PipelineSpec)",
    "graft.pipeline.TextAnalysis.greedyMergeFold" -> "HOF reference of graft_bpe_apply (PipelineSpec)",
    // references: the per-call path a spec checks a gate's shared relation against
    "graft.pipeline.Dedup.minhashErrorReport"    -> "per-call reference of minhashErrorReportFrom (SharedRelationParitySpec)",
    "graft.pipeline.Dedup.similarityHistogram"   -> "per-call reference of similarityHistogramFrom (SharedRelationParitySpec)",
    "graft.pipeline.Dedup.winnowPairs"           -> "per-call reference of winnowPairsOn (SharedRelationParitySpec)",
    "graft.pipeline.Dedup.winnowContainment"     -> "per-call reference of winnowContainmentFrom (SharedRelationParitySpec)",
    "graft.pipeline.Dedup.dedupReportFromPairs"  -> "per-call reference of dedupReportFromClusters (SharedRelationParitySpec)",
    "graft.pipeline.Dedup.componentWeightsFromPairs" -> "per-call reference of componentWeightsFromClusters (SharedRelationParitySpec)",
    "graft.operators.Graph.labelPropagation"     -> "per-call reference of labelPropagationShared (SharedRelationParitySpec)",
    "graft.operators.Star.coPurchasePairs"       -> "per-call reference of coPurchasePairsOn (SharedRelationParitySpec)",
    // spec-only operators: a spec is the only caller, and deleting one takes its cases
    "graft.pipeline.Retrieval.qlTopK"            -> "corpus-scan QL scorer RetrievalSpec checks against hand-computed Dirichlet likelihoods",
    "graft.pipeline.Retrieval.topTfIdfTerms"     -> "corpus-scan top-tf-idf terms RetrievalSpec checks per doc",
    "graft.pipeline.Retrieval.termIndex"         -> "unpersisted TermIndex the RetrievalSpec cases build their indexes with",
    "graft.pipeline.Retrieval.writePositionalIndex" -> "writes the positional index RetrievalSpec reads back against live phrase matches",
    "graft.pipeline.Similarity.ivfWrite"         -> "persists an IVF index; PipelineSpec round-trips it through ivfRead",
    "graft.pipeline.Similarity.ivfRead"          -> "reads an IVF index back; PipelineSpec round-trips it",
    "graft.pipeline.Similarity.ivfAssign"        -> "one-pass IVF assignment PipelineSpec runs a probed top-k over",
    "graft.pipeline.Sampling.hashSample"         -> "id-hash sample CompiledKernelSpec and PipelineSpec check the compiled hash through",
    "graft.pipeline.Skew.saltedCount"            -> "salted count PipelineSpec checks against unsalted aggregation",
    "graft.operators.Rollup.merge"               -> "rollup segment merge; TimeSeriesSpec proves merge(build(a), build(b)) = build(a ∪ b)",
    "graft.catalog.Warehouse.enableRollup"       -> "turns a metric's rollup tier on; WarehouseSpec and WarehouseTokenSpec build rollups through it",
    "graft.catalog.Warehouse.rebuildRollup"      -> "compacts a rollup's segment log; WarehouseTokenSpec checks it moves the change token",
    // lifecycle and probes a harness calls
    "graft.catalog.Warehouse.release"            -> "drops a warehouse's resident copies; SparkTestBase releases every suite's warehouses with it",
    "graft.Shared.isCached"                      -> "lets SharedRegistrySpec see that a release left no relation cached",
    "graft.pipeline.Checkpoints.scoped"          -> "counts the pins a block leaves; RelationalSpec and PipelineSpec check operators free theirs",
    "graft.http.SseSubscriber.deadSocketCount"   -> "dead-socket counter SseSubscriberSpec reads",
    "graft.http.SseSubscriber.isClosed"          -> "SseSubscriberSpec checks an evicted subscriber is closed",
    "graft.SparkEntry.entry"                     -> "the flagship query an outside smoke check calls by name",
    // API for code outside graft
    "graft.security.AuthResult.denied"           -> "deny verdict for GraftAuthProvider implementations outside graft (TestAuthProvider)"
  )

  /** A method as the JVM names it: internal class name, name, descriptor. */
  final case class Ref(owner: String, name: String, desc: String)

  /** A method body: `constant` when it only pushes a constant and returns it. */
  final class Body(val access: Int, val constant: Boolean) {
    val calls   = mutable.ArrayBuffer.empty[(Int, Ref)] // invoke opcode, target
    val inits   = mutable.Set.empty[String]             // classes this body initializes
    val strings = mutable.Set.empty[String]             // string constants
  }

  final class Cls(val name: String, val superName: String, val interfaces: Seq[String]) {
    val methods = mutable.LinkedHashMap.empty[(String, String), Body]
    def supers: Seq[String] = Option(superName).toSeq ++ interfaces
  }

  /** The methods neither `entries` nor an [[Allowed]] method reaches, and
    * the [[Allowed]] names an entry point reaches or that name nothing. */
  def check(g: Graph, entries: Set[Ref]): (Seq[String], Seq[String]) = {
    val kept = g.all.filter(r => Allowed.contains(display(r))).toSet
    ((g.unreached(entries ++ kept)).toSeq.sorted, (Allowed.keySet -- g.unreached(entries)).toSeq.sorted)
  }

  val classesDir: Path = Paths.get(classOf[GraftEngine].getProtectionDomain.getCodeSource.getLocation.toURI)

  /** The entry points, each a set of methods the JVM, Spark or a caller
    * outside the compiled classes invokes. */
  def roots(g: Graph): Set[Ref] =
    g.all.filter(r => r.name == "main" && r.desc == "([Ljava/lang/String;)V").toSet ++
      g.named("graft/SparkEntry$", Set("queries", "oracleSql")) ++
      registryMethods(g) ++
      g.public("graft/functions/GraftSparkExtensions") ++
      Seq("graft/http/HttpApi", "graft/http/WsApi", "graft/rpc/GrpcApi").flatMap(g.public) ++
      Seq("graft/client/GraftClient", "graft/client/GraftJavaClient", "graft/rpc/GrpcClient").flatMap(g.public) ++
      g.externalOverrides ++
      perfbenchMembers(g)

  /** `StaticInvoke` names a kernel's method by string: a string constant in
    * `GraftFunctions` that names a method of an object it references. */
  def registryMethods(g: Graph): Set[Ref] = {
    val bodies  = g.classes.get("graft/functions/GraftFunctions$").toSeq.flatMap(_.methods.values)
    val strings = bodies.flatMap(_.strings).toSet
    val objects = bodies.flatMap(_.inits).filter(_.endsWith("$")).toSet
    objects.flatMap(o => g.named(o, strings) ++ g.named(o.stripSuffix("$"), strings))
  }

  /** The harness under `perfbench/src` compiles against `src/main`: every
    * member it selects (`x.name`) and every class it names or builds. */
  def perfbenchMembers(g: Graph): Set[Ref] = {
    val dir = Paths.get("perfbench/src")
    val text = {
      val walk = Files.list(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).map(Files.readString).mkString("\n")
      finally walk.close()
    }
    val members = """\.\s*([A-Za-z_]\w*)""".r.findAllMatchIn(text).map(_.group(1)).toSet
    val types   = """\b([A-Z]\w*)""".r.findAllMatchIn(text).map(_.group(1)).toSet
    g.all.filter { r =>
      members(r.name) || (types(simpleName(r.owner)) && (r.name == "<init>" || r.name == "apply"))
    }.toSet
  }

  private def simpleName(internal: String): String =
    internal.stripSuffix("$").split("[/$]").last

  /** `graft.pipeline.Dedup.winnowContainment` for the object method and
    * each of its overloads alike. */
  def display(r: Ref): String =
    r.owner.replace('/', '.').stripSuffix("$").replace('$', '.') + "." + r.name.stripSuffix(Extension)

  /** A value class's methods are written once, as static-like twins named
    * `<method>$extension` on its companion; the boxed class only forwards. */
  private val Extension = "$extension"

  final class Graph(val classes: Map[String, Cls]) {
    def all: Iterator[Ref] = classes.valuesIterator.flatMap(c => c.methods.keysIterator.map { case (n, d) => Ref(c.name, n, d) })

    def named(owner: String, names: Set[String]): Set[Ref] =
      classes.get(owner).toSeq.flatMap(_.methods.keys.collect { case (n, d) if names(n) => Ref(owner, n, d) }).toSet

    /** The public methods of `owner`, its companion and its nested classes. */
    def public(owner: String): Set[Ref] =
      classes.valuesIterator.filter(c => c.name == owner || c.name.startsWith(owner + "$")).flatMap { c =>
        c.methods.collect { case ((n, d), b) if (b.access & Opcodes.ACC_PUBLIC) != 0 => Ref(c.name, n, d) }
      }.toSet

    private val subtypes: Map[String, Seq[String]] =
      classes.values.toSeq.flatMap(c => c.supers.map(_ -> c.name)).groupMap(_._1)(_._2)

    private def below(owner: String): Iterator[Cls] = {
      val seen = mutable.Set(owner)
      val todo = mutable.Stack(owner)
      Iterator.continually(todo).takeWhile(_.nonEmpty).flatMap { t =>
        val c = t.pop()
        subtypes.getOrElse(c, Nil).filter(seen.add).foreach(todo.push)
        classes.get(c)
      }
    }

    /** The declarations a call to `r` may run: the one it resolves to up the
      * hierarchy and, for a virtual call, every override below `r.owner`. */
    def targets(op: Int, r: Ref): Seq[Ref] = {
      val key = (r.name, r.desc)
      def up(o: String): Seq[Ref] = classes.get(o) match {
        case Some(c) if c.methods.contains(key) => Seq(Ref(o, r.name, r.desc))
        case Some(c) => Option(c.superName).toSeq.flatMap(up) match {
            case Nil   => c.interfaces.flatMap(up)
            case found => found
          }
        case None => Nil
      }
      val virtual = op == Opcodes.INVOKEVIRTUAL || op == Opcodes.INVOKEINTERFACE
      up(r.owner) ++ (if (virtual) below(r.owner).filter(_.methods.contains(key)).map(c => Ref(c.name, r.name, r.desc)) else Nil)
    }

    /** Methods that override one a Spark, JDK or Scala supertype declares:
      * those libraries call them. */
    def externalOverrides: Set[Ref] = {
      val loader = getClass.getClassLoader
      val cache = mutable.Map.empty[String, Set[(String, String)]]
      def declared(t: String): Set[(String, String)] = cache.getOrElseUpdate(t, {
        val seen = mutable.Set.empty[Class[_]]
        def walk(k: Class[_]): Iterator[Class[_]] =
          if (k == null || !seen.add(k)) Iterator.empty
          else Iterator(k) ++ walk(k.getSuperclass) ++ k.getInterfaces.iterator.flatMap(walk)
        walk(Class.forName(t.replace('/', '.'), false, loader))
          .flatMap(_.getDeclaredMethods.iterator.map(m => m.getName -> Type.getMethodDescriptor(m))).toSet
      })
      def external(c: Cls): Seq[String] =
        c.supers.flatMap(s => classes.get(s).fold(Seq(s))(external))
      classes.values.flatMap { c =>
        val inherited = external(c).flatMap(declared).toSet
        c.methods.collect {
          case (k @ (n, d), b) if inherited(k) && n != "<init>" && (b.access & Opcodes.ACC_STATIC) == 0 => Ref(c.name, n, d)
        }
      }.toSet
    }

    def reached(roots: Set[Ref]): Set[Ref] = {
      val seen = mutable.Set.empty[Ref]
      val initialized = mutable.Set.empty[String]
      val todo = mutable.Stack.empty[Ref]
      def init(c: String): Unit = classes.get(c).filter(k => initialized.add(k.name)).foreach { k =>
        if (k.methods.contains(("<clinit>", "()V"))) todo.push(Ref(c, "<clinit>", "()V"))
        Option(k.superName).foreach(init)
      }
      roots.foreach(todo.push)
      while (todo.nonEmpty) {
        val r = todo.pop()
        if (seen.add(r)) classes.get(r.owner).flatMap(_.methods.get((r.name, r.desc))).foreach { b =>
          init(r.owner)
          // the serialized-lambda table lists every lambda of its class;
          // following it would reach each lambda whether made or not
          if (r.name != "$deserializeLambda$") {
            b.inits.foreach(init)
            b.calls.foreach { case (op, t) => targets(op, t).foreach(todo.push) }
          }
        }
      }
      seen.toSet
    }

    /** Display names of the source-level methods `roots` never reaches. */
    def unreached(roots: Set[Ref]): Set[String] = {
      val hit = reached(roots)
      all.filter(r => written(r) && !hit(r)).map(display).toSet
    }

    /** A method the source writes a body for: not abstract, and not a
      * bridge, lambda body, default argument, static initializer, static or
      * boxed value-class forwarder, nested-object accessor, member of an
      * anonymous or local class, or compiler-made case-class member. A
      * constant `final val` is inlined where it is read, so its accessor is
      * never called either. */
    private def written(r: Ref): Boolean = {
      val c = classes(r.owner)
      val b = c.methods((r.name, r.desc))
      val caseClass = Seq(r.owner, r.owner.stripSuffix("$")).flatMap(classes.get)
        .exists(_.methods.contains(("productPrefix", "()Ljava/lang/String;")))
      val forwarder = (b.access & Opcodes.ACC_STATIC) != 0 &&
        classes.get(r.owner + "$").exists(_.methods.contains((r.name, r.desc)))
      val boxed = (b.access & Opcodes.ACC_STATIC) == 0 &&
        classes.get(r.owner + "$").exists(_.methods.keys.exists(_._1.endsWith(Extension)))
      (b.access & (Opcodes.ACC_SYNTHETIC | Opcodes.ACC_BRIDGE | Opcodes.ACC_ABSTRACT)) == 0 &&
        !b.constant && !forwarder && !boxed &&
        !r.name.stripSuffix(Extension).contains('$') && r.name != "<clinit>" &&
        !r.owner.contains("$$") && !r.owner.split('$').exists(s => s.nonEmpty && s.forall(_.isDigit)) &&
        !(r.owner.endsWith("$") && r.name == "<init>") &&
        !Seq(s"${r.owner}${r.name}$$", s"${r.owner}$$${r.name}$$").exists(classes.contains) &&
        !(caseClass && CaseClassMembers(r.name))
    }
  }

  private val CaseClassMembers = Set("apply", "unapply", "copy", "productPrefix", "productArity",
    "productElement", "productIterator", "productElementName", "productElementNames", "canEqual",
    "equals", "hashCode", "toString", "readResolve", "writeReplace", "fromProduct", "curried", "tupled",
    "andThen", "compose")

  object Graph {
    def load(dir: Path): Graph = {
      val walk = Files.walk(dir.resolve("graft"))
      val files = try walk.iterator().asScala.filter(_.toString.endsWith(".class")).toList finally walk.close()
      new Graph(files.map(f => read(Files.readAllBytes(f))).map(c => c.name -> c).toMap)
    }

    private def read(bytes: Array[Byte]): Cls = {
      val node = new ClassNode()
      new ClassReader(bytes).accept(node, ClassReader.SKIP_FRAMES | ClassReader.SKIP_DEBUG)
      val cls = new Cls(node.name, node.superName, node.interfaces.asScala.toSeq)
      node.methods.asScala.foreach { m =>
        val insns = m.instructions.iterator().asScala.filter(_.getOpcode >= 0).toSeq
        val b = new Body(m.access, constant = insns.size == 2 && Type.getArgumentTypes(m.desc).isEmpty &&
          insns.head.getOpcode >= Opcodes.ACONST_NULL && insns.head.getOpcode <= Opcodes.LDC &&
          insns(1).getOpcode >= Opcodes.IRETURN && insns(1).getOpcode <= Opcodes.ARETURN)
        insns.foreach {
          case i: MethodInsnNode =>
            b.calls += i.getOpcode -> Ref(i.owner, i.name, i.desc)
            if (i.getOpcode == Opcodes.INVOKESTATIC) b.inits += i.owner
          case i: FieldInsnNode if i.getOpcode == Opcodes.GETSTATIC || i.getOpcode == Opcodes.PUTSTATIC =>
            b.inits += i.owner
          case i: TypeInsnNode if i.getOpcode == Opcodes.NEW => b.inits += i.desc
          case i: LdcInsnNode => i.cst match {
              case str: String => b.strings += str
              case _           =>
            }
          case i: InvokeDynamicInsnNode => i.bsmArgs.foreach {
              case h: Handle => b.calls += handleOp(h) -> Ref(h.getOwner, h.getName, h.getDesc)
              case _         =>
            }
          case _ =>
        }
        cls.methods((m.name, m.desc)) = b
      }
      cls
    }

    private def handleOp(h: Handle): Int = h.getTag match {
      case Opcodes.H_INVOKEVIRTUAL   => Opcodes.INVOKEVIRTUAL
      case Opcodes.H_INVOKEINTERFACE => Opcodes.INVOKEINTERFACE
      case Opcodes.H_INVOKESTATIC    => Opcodes.INVOKESTATIC
      case _                         => Opcodes.INVOKESPECIAL
    }
  }
}
