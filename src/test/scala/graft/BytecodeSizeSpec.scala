package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.xbean.asm9.{ClassReader, ClassVisitor, MethodVisitor, Opcodes}
import org.apache.xbean.asm9.commons.CodeSizeEvaluator
import org.scalatest.funsuite.AnyFunSuite

/** HotSpot never JIT-compiles a method whose bytecode is 8000 bytes or
  * more (`-XX:HugeMethodLimit`, on by default through
  * `DontCompileHugeMethods`): such a method runs in the interpreter for
  * the life of the process. A Scala `match` whose cases each call a
  * ~45-argument `copy` grows past that quietly, so every compiled main
  * class is scanned here with the ASM that Spark ships.
  */
class BytecodeSizeSpec extends AnyFunSuite {
  private final val hugeMethodLimit = 8000

  /** the compiled main classes: the directory (or jar) `graft.gql.Parser`
    * was loaded from
    */
  private lazy val classesRoot: Path =
    Paths.get(graft.gql.Parser.getClass.getProtectionDomain.getCodeSource
      .getLocation.toURI)

  /** (class.method, largest possible code size) of every method in one
    * class file. `CodeSizeEvaluator`'s max counts every jump in its wide
    * form, so it never under-reports.
    */
  private def methodSizes(bytes: Array[Byte]): Seq[(String, Int)] = {
    val reader = new ClassReader(bytes)
    val sizes = Seq.newBuilder[(String, CodeSizeEvaluator)]
    reader.accept(new ClassVisitor(Opcodes.ASM9) {
      override def visitMethod(access: Int, name: String, desc: String,
          sig: String, exceptions: Array[String]): MethodVisitor = {
        val eval = new CodeSizeEvaluator(null)
        sizes += s"${reader.getClassName.replace('/', '.')}.$name" -> eval
        eval
      }
    }, 0)
    sizes.result().map { case (m, eval) => m -> eval.getMaxSize }
  }

  test("no main method reaches HotSpot's 8000-byte JIT limit") {
    assert(Files.isDirectory(classesRoot), classesRoot)
    val files = Files.walk(classesRoot).iterator.asScala
      .filter(_.toString.endsWith(".class")).toVector
    assert(files.exists(_.endsWith(Paths.get("graft", "gql", "Parser$.class"))),
      s"no compiled parser under $classesRoot")
    val huge = files.flatMap(f => methodSizes(Files.readAllBytes(f)))
      .filter(_._2 >= hugeMethodLimit).sortBy(-_._2)
    assert(huge.isEmpty, huge.map { case (m, n) => s"$m: $n bytes" }
      .mkString("methods too large to JIT-compile: ", ", ", ""))
  }
}
