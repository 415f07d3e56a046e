package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.xbean.asm9.{ClassReader, Handle, Opcodes, Type}
import org.apache.xbean.asm9.tree._
import org.scalatest.funsuite.AnyFunSuite

/** `src/main` holds only what an entry point reaches.
  *
  * The walk reads the compiled classes (the directory `graft.Smoke` was
  * loaded from) and follows, from the roots below:
  *  - `invoke*` instructions, and the method handles of `invokedynamic`
  *    bootstraps (Scala lambdas);
  *  - for a reached method, every override of it in a graft subtype;
  *  - for a reached class, its static initializer, its graft supertypes,
  *    and its overrides of non-graft supertypes (Catalyst `Expression`
  *    callbacks, `Product`, `Function1.apply`), plus the field accessors
  *    of a case class (encoders and `TreeNode` read them reflectively);
  *  - `graft.x.Y.m(` inside a string constant: the Java source a
  *    Catalyst `doGenCode` emits calls the kernel through such text.
  *
  * Roots: the four mains, `SparkEntry` and every `QueryModule`,
  * `GraftExtensions`, and what the e2ebench harness calls.
  *
  * A public, non-synthetic, source-level method that nothing reaches
  * fails the spec unless [[ReachabilitySpec.Allowlist]] names it with a
  * reason. An allowlisted member is walked as a root of its own once
  * the entry-point walk is done, so the helpers only it calls are not
  * listed separately; they fail the spec when it goes. */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec._

  private lazy val program = Program.load(classDir)

  test("src/main defines exactly the four entry points") {
    val mains = program.mains.map(_._1).toSet
    assert(mains == Set("graft/Bench", "graft/Smoke", "graft/Verify", "graft/PlanDump"),
      s"entry points: ${mains.toSeq.sorted.mkString(", ")}")
  }

  test("every public method in src/main is reached from an entry point or allowlisted") {
    val reach = program.reach(roots(program))
    val stale = Allowlist.keys.toSeq.sorted.flatMap { key =>
      val members = program.checked.filter(m => program.sourceName(m) == key)
      if (members.isEmpty) Some(s"$key: allowlisted but no longer exists")
      else if (members.forall(reach.contains)) Some(s"$key: allowlisted but now reached")
      else None
    }
    if (stale.nonEmpty) fail(stale.mkString("\n"))
    val allowed = program.checked.filter(m => Allowlist.contains(program.sourceName(m)))
    val reachAll = program.reach(reach ++ allowed)
    val dead = program.checked.filterNot(reachAll.contains)
      .map(m => program.sourceName(m) + m._3).distinct.sorted
    if (dead.nonEmpty)
      fail(s"${dead.size} public method(s) reached by no entry point:\n${dead.mkString("\n")}")
  }
}

object ReachabilitySpec {

  private val Lifecycle = "next PR: lifecycle family"
  private val TestHook = "test hook: specs reset or read session state through it"

  /** Unreached members kept on purpose, by source name, with the reason. */
  val Allowlist: Map[String, String] = Map(
    "graft.operators.Dedup.appendIndexes" -> Lifecycle,
    "graft.operators.Dedup.compactIndexes" -> Lifecycle,
    "graft.operators.Dedup.eraseDocuments" -> Lifecycle,
    "graft.operators.Dedup.reindexArtifacts" -> Lifecycle,
    "graft.operators.Dedup.ingestSinceWatermark" -> Lifecycle,
    "graft.operators.Dedup.rebuildPairTable" -> Lifecycle,
    "graft.operators.Dedup.incrementalNearDups" -> Lifecycle,
    "graft.operators.Graph.appendGraphEdges" -> Lifecycle,
    "graft.operators.Graph.pagerankFullForced" -> Lifecycle,
    "graft.operators.TextAnalysis.appendWordGraph" -> Lifecycle,
    "graft.operators.ZOrder.zorderWrite" -> Lifecycle,
    "graft.operators.BpeFit.clearFitCache" -> TestHook,
    "graft.operators.SimilarityIvf.clearFitCache" -> TestHook,
    "graft.operators.SimilarityPq.clearFitCache" -> TestHook,
    "graft.operators.ServeStatus.lastAdvice" -> TestHook,
    "graft.operators.Reindex.readGeometryBaseline" -> TestHook,
    "graft.sources.SessionSweep.entriesFor" -> TestHook,
    "graft.sources.Tables.loadCacheSizeForTest" -> TestHook,
    "graft.operators.Similarity.bucketStringsComposed" ->
      "reference LshGeometrySpec holds the fused LshBucketStrings kernel to",
    "graft.operators.Dedup.simhashBits" -> "next PR: only DedupSpec calls it; root or delete",
    "graft.operators.Dedup.simhashTable" -> "next PR: only the lifecycle specs read it; goes with that family",
    "graft.alto.Alto.tokensOuter" -> "next PR: only AltoSpec calls it; root or delete",
    "graft.functions.GraftFunctions.parseIntJs" -> "next PR: only ParseIntJsSpec calls it; root or delete",
    "graft.functions.ParseIntJs.apply" -> "next PR: the Column form only parseIntJs calls",
    "graft.operators.Multimodal.extractFeatures" -> "next PR: only MultimodalSpec calls it; root or delete",
    "graft.operators.Multimodal.FakeDecoder.decode" -> "next PR: only MultimodalSpec calls it; root or delete",
    "graft.operators.Multimodal.HeaderDecoder.decode" -> "next PR: only extractFeatures calls it",
    "graft.sinks.Sinks.transcriptUpsertSpec" -> "next PR: the reference's upsert SQL; only specs use it",
    "graft.sinks.Sinks.writeBucketed" -> "next PR: only BucketingSpec calls it; root or delete",
    "graft.sinks.Sinks.writePartitioned" -> "next PR: only SinksSpec calls it; root or delete",
    "graft.sources.JdbcSource.query" -> "next PR: only JdbcSourceSpec calls it; root or delete")

  /** The class directory `src/main` compiles to. */
  def classDir: Path =
    Paths.get(graft.Smoke.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)

  /** Members the e2ebench harness calls (`e2ebench/src/main/scala`):
    * (class, member); a member of `*` roots the whole type. */
  private val HarnessCalls = Seq(
    "graft/sources/JdbcSource$" -> "worklist",
    "graft/alto/Alto$" -> "fetchXml",
    "graft/alto/Alto$" -> "pipeline",
    "graft/alto/Alto$FetchPolicy" -> "*",
    "graft/alto/HttpFetcher$" -> "fetcher",
    "graft/sinks/Sinks$" -> "writeObjectPerRow",
    "graft/sinks/Sinks$" -> "jdbcUpsert",
    "graft/sinks/Sinks$UpsertSpec" -> "*",
    "graft/sources/WatermarkStore$" -> "read",
    "graft/sources/WatermarkStore$" -> "write",
    "graft/functions/GraftFunctions$" -> "publicUrl")

  def roots(p: Program): Set[Program.Member] = {
    def wholeType(prefix: String): Seq[Program.Member] =
      p.classes.values.toSeq.filter(c => c.name == prefix || c.name.startsWith(prefix + "$"))
        .flatMap(c => c.methods.asScala.map(m => (c.name, m.name, m.desc)))
    def member(cls: String, name: String): Seq[Program.Member] = {
      val c = p.classes.getOrElse(cls, throw new AssertionError(s"root class $cls is gone"))
      val ms = c.methods.asScala.filter(_.name == name).map(m => (cls, m.name, m.desc)).toSeq
      assert(ms.nonEmpty, s"root $cls.$name is gone")
      ms
    }
    val modules = p.classes.keys.toSeq.filter(p.supertypes(_).contains("graft/QueryModule"))
    val harness = HarnessCalls.flatMap {
      case (cls, "*") => wholeType(cls)
      case (cls, name) => member(cls, name)
    }
    (p.mains ++ wholeType("graft/SparkEntry") ++ modules.flatMap(wholeType) ++
      wholeType("graft/GraftExtensions") ++ harness).toSet
  }

  /** The compiled program: every class under one directory. */
  final class Program(val classes: Map[String, ClassNode]) {
    import Program._

    private val graftParents: Map[String, Seq[String]] = classes.map { case (n, c) =>
      n -> (Option(c.superName).toSeq ++ c.interfaces.asScala).filter(classes.contains)
    }

    private val subtypesOf: Map[String, Set[String]] = {
      val direct = graftParents.toSeq.flatMap { case (c, ps) => ps.map(_ -> c) }
        .groupMap(_._1)(_._2)
      def all(c: String): Set[String] = {
        val out = mutable.Set.empty[String]
        val todo = mutable.Stack(c)
        while (todo.nonEmpty) direct.getOrElse(todo.pop(), Nil).foreach { s =>
          if (out.add(s)) todo.push(s)
        }
        out.toSet
      }
      classes.keys.map(c => c -> all(c)).toMap
    }

    /** Every `public static main(String[])`: the program's entry points. */
    lazy val mains: Seq[Member] = classes.values.toSeq.flatMap(c => c.methods.asScala.collect {
      case m if m.name == "main" && m.desc == "([Ljava/lang/String;)V" &&
          (m.access & (Opcodes.ACC_PUBLIC | Opcodes.ACC_STATIC)) ==
            (Opcodes.ACC_PUBLIC | Opcodes.ACC_STATIC) => (c.name, m.name, m.desc)
    })

    /** All supertypes of a class, graft or not, by internal name. */
    def supertypes(cls: String): Set[String] = {
      val out = mutable.Set.empty[String]
      val todo = mutable.Stack(cls)
      while (todo.nonEmpty) {
        val c = todo.pop()
        val parents = classes.get(c) match {
          case Some(n) => Option(n.superName).toSeq ++ n.interfaces.asScala
          case None => libraryParents(c)
        }
        parents.foreach(s => if (out.add(s)) todo.push(s))
      }
      out.toSet
    }

    /** (name, descriptor) of every instance method a non-graft
      * supertype of `cls` declares: what the library can call back. */
    private def libraryMethods(cls: String): Set[(String, String)] =
      supertypes(cls).filterNot(classes.contains).flatMap(libraryDeclared)

    private def declares(cls: String, name: String, desc: String): Boolean =
      classes.get(cls).exists(_.methods.asScala.exists(m => m.name == name && m.desc == desc))

    private def isProduct(cls: String): Boolean = supertypes(cls).contains("scala/Product")

    /** The public, non-synthetic, source-level methods: what the spec
      * checks. Left out, as the compiler's and not the source's: names
      * with a `$` (lambda bodies, default-argument getters, mangled
      * privates) and every method of a class whose name has `$$`
      * (anonymous classes, type-tag creators); a module's static
      * forwarders in its mirror class; and the members a case class
      * and its companion get generated. */
    lazy val checked: Seq[Member] = classes.values.toSeq.filterNot(_.name.contains("$$")).flatMap { c =>
      val product = isProduct(c.name)
      val companionOf = Some(c.name.stripSuffix("$"))
        .filter(n => n != c.name && classes.contains(n) && isProduct(n))
      def generated(m: MethodNode): Boolean =
        (product && ProductBoilerplate(m.name)) || companionOf.exists { cc =>
          CompanionBoilerplate(m.name) ||
            (m.name == "apply" || m.name == "unapply") && m.desc.contains(s"L$cc;")
        }
      c.methods.asScala.collect {
        case m if (m.access & Opcodes.ACC_PUBLIC) != 0 &&
            (m.access & (Opcodes.ACC_SYNTHETIC | Opcodes.ACC_BRIDGE)) == 0 &&
            !m.name.contains('$') && !m.name.startsWith("<") &&
            !isStaticForwarder(c, m) && !generated(m) =>
          (c.name, m.name, m.desc)
      }
    }

    /** A static method of a class that has a module class: Scala emits
      * none in source, only forwarders to the module's methods. */
    private def isStaticForwarder(c: ClassNode, m: MethodNode): Boolean =
      (m.access & Opcodes.ACC_STATIC) != 0 && classes.contains(c.name + "$")

    /** `graft.operators.Dedup.appendIndexes` for `graft/operators/Dedup$`. */
    def sourceName(m: Member): String =
      m._1.stripSuffix("$").replace('/', '.').replace('$', '.') + "." + m._2

    /** Everything reachable from `roots`, roots included. */
    def reach(roots: Iterable[Member]): Set[Member] = {
      val methods = mutable.Set.empty[Member]
      val reachedClasses = mutable.Set.empty[String]
      val todo = mutable.Queue.empty[Member]

      def method(cls: String, name: String, desc: String): Unit =
        if (classes.contains(cls) && declares(cls, name, desc) && methods.add((cls, name, desc))) {
          todo.enqueue((cls, name, desc))
          klass(cls)
          subtypesOf(cls).foreach(s => method(s, name, desc))
        }

      def klass(cls: String): Unit =
        if (classes.contains(cls) && reachedClasses.add(cls)) {
          val c = classes(cls)
          method(cls, "<clinit>", "()V")
          graftParents(cls).foreach(klass)
          val callbacks = libraryMethods(cls)
          val fields = if (isProduct(cls)) c.fields.asScala.map(_.name).toSet else Set.empty[String]
          c.methods.asScala.foreach { m =>
            if (callbacks((m.name, m.desc)) || (fields(m.name) && m.desc.startsWith("()")))
              method(cls, m.name, m.desc)
          }
        }

      /** An instruction's target: the declaration in `owner` or the
        * nearest graft supertype, and (through [[method]]) every
        * override below it. */
      def call(owner: String, name: String, desc: String): Unit =
        if (classes.contains(owner)) {
          klass(owner)
          supertypesAndSelf(owner).filter(declares(_, name, desc))
            .foreach(method(_, name, desc))
        }

      def handle(h: Handle): Unit = call(h.getOwner, h.getName, h.getDesc)

      def constant(v: Any): Unit = v match {
        case h: Handle => handle(h)
        case t: Type if t.getSort == Type.OBJECT => klass(t.getInternalName)
        case s: String => GeneratedCall.findAllMatchIn(s).foreach { g =>
          val cls = g.group(1).replace('.', '/')
          Seq(cls, cls + "$").filter(classes.contains).foreach { c =>
            klass(c)
            classes(c).methods.asScala.filter(_.name == g.group(2))
              .foreach(m => method(c, m.name, m.desc))
          }
        }
        case _ => ()
      }

      roots.foreach { case (c, n, d) => method(c, n, d) }
      while (todo.nonEmpty) {
        val (cls, name, desc) = todo.dequeue()
        classes(cls).methods.asScala.find(m => m.name == name && m.desc == desc)
          .foreach(_.instructions.iterator.asScala.foreach {
            case i: MethodInsnNode => call(i.owner, i.name, i.desc)
            case i: InvokeDynamicInsnNode =>
              handle(i.bsm)
              i.bsmArgs.foreach(constant)
            case i: FieldInsnNode => klass(i.owner)
            case i: TypeInsnNode if i.getOpcode == Opcodes.NEW ||
                i.getOpcode == Opcodes.CHECKCAST => klass(i.desc)
            case i: LdcInsnNode => constant(i.cst)
            case _ => ()
          })
      }
      methods.toSet
    }

    private def supertypesAndSelf(cls: String): Seq[String] =
      cls +: supertypes(cls).toSeq.filter(classes.contains)
  }

  object Program {
    /** (class internal name, method name, descriptor). */
    type Member = (String, String, String)

    private val ProductBoilerplate = Set("copy", "productArity", "productElement",
      "productPrefix", "productIterator", "productElementName", "productElementNames",
      "canEqual", "equals", "hashCode", "toString")
    private val CompanionBoilerplate = Set("toString", "readResolve", "writeReplace")

    /** `graft.functions.JsonPretty.compute(` in emitted Java source. */
    private val GeneratedCall =
      """((?:graft|org\.apache\.spark\.sql\.graftbridge)(?:\.\w+)+)\.(\w+)\(""".r

    private val loader = getClass.getClassLoader

    private def libraryClass(cls: String): Option[Class[_]] =
      try Some(Class.forName(cls.replace('/', '.'), false, loader))
      catch { case _: ClassNotFoundException | _: LinkageError => None }

    private val parentsMemo = mutable.Map.empty[String, Seq[String]]
    private def libraryParents(cls: String): Seq[String] = parentsMemo.getOrElseUpdate(cls,
      libraryClass(cls).toSeq.flatMap(k =>
        (Option(k.getSuperclass).toSeq ++ k.getInterfaces).map(Type.getInternalName)))

    private val declaredMemo = mutable.Map.empty[String, Set[(String, String)]]
    private def libraryDeclared(cls: String): Set[(String, String)] =
      declaredMemo.getOrElseUpdate(cls, libraryClass(cls).toSeq.flatMap(_.getDeclaredMethods)
        .filterNot(m => java.lang.reflect.Modifier.isStatic(m.getModifiers) ||
          java.lang.reflect.Modifier.isPrivate(m.getModifiers))
        .map(m => m.getName -> Type.getMethodDescriptor(m)).toSet)

    def load(dir: Path): Program = {
      assert(Files.isDirectory(dir), s"no class directory at $dir")
      val files = Files.walk(dir)
      val nodes = try files.iterator.asScala.filter(_.toString.endsWith(".class")).map { f =>
        val node = new ClassNode()
        new ClassReader(Files.readAllBytes(f)).accept(node, ClassReader.SKIP_FRAMES)
        node.name -> node
      }.toMap finally files.close()
      new Program(nodes)
    }
  }
}
