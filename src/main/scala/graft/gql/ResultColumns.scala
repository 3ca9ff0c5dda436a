package graft.gql

/** The columns a read's result pattern yields, named one way on every
  * read path: the Catalyst plan and the snapshot
  * ([[graft.serve.PointServer]]).
  */
object ResultColumns {
  /** `((guid value))`, the result of a read without `result=` */
  val default: Pattern = ListPat(Seq(FieldPat("guid"), FieldPat("value")))

  def leaves(p: Pattern): Seq[Pattern] = p match {
    case ListPat(items) => items.flatMap(leaves)
    case other => Seq(other)
  }

  /** One named column per result leaf: a field or variable by its
    * name, a literal `lit_<i>`, a count `count`, anything else `c_<i>`,
    * i the leaf's position. `column` turns a leaf and that name into
    * the leaf's columns (none, one, or several). A pattern can name the
    * same leaf twice (sort13: ($x1 ($x1 value))): a repeat gets
    * `__dup<j>`, j its column position, so struct fields stay unique
    * and getField never turns ambiguous; consumers are positional.
    */
  def apply[A](leaves: Seq[Pattern])(column: (Pattern, String) => Seq[(String, A)])
      : Seq[(String, A)] = {
    val cols = leaves.zipWithIndex.flatMap { case (p, i) =>
      column(p, p match {
        case FieldPat(f) => f
        case VarPat(v) => v
        case LiteralPat(_, _) => s"lit_$i"
        case CountPat => "count"
        case _ => s"c_$i"
      })
    }
    val seen = scala.collection.mutable.Set.empty[String]
    cols.zipWithIndex.map { case ((n, a), j) =>
      (if (seen.add(n)) n else s"${n}__dup$j", a)
    }
  }

  /** the names [[apply]] gives leaves that are one column each */
  def names(leaves: Seq[Pattern]): Seq[String] =
    apply(leaves)((_, n) => Seq(n -> ())).map(_._1)
}
