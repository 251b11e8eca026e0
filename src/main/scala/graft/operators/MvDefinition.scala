package graft.operators

/** One dimension of a join view: the dim table's SQL name and dir, its
  * `parentCol = dimCol` join pairs, and its parent — -1 for the fact (a
  * star), or the index of an earlier dim (a snowflake chain).
  */
private[graft] final case class MvDim(name: String, dir: String,
    on: Seq[(String, String)], parent: Int = -1)

/** A materialized view's definition: one source table (the fact of a join
  * view) plus zero or more dims, group keys, and the maintained aggregate
  * columns. A view with no dims is a single-table view; a two-table join is
  * a star with one dim. Table dirs are "" in a definition parsed from SQL
  * text until the names resolve.
  */
private[graft] final case class MvDefinition(source: String, sourceDir: String,
    dims: Seq[MvDim], keys: Seq[String], sums: Seq[String] = Nil,
    avgs: Seq[String] = Nil, counts: Seq[String] = Nil, minmaxs: Seq[String] = Nil,
    distincts: Seq[String] = Nil, where: Option[String] = None)

/** The one codec of a view's `mv.*` backing-table properties. Lists are
  * ','-joined; per-dim lists are ';'-joined in declaration order:
  * `mv.star.dims` (dirs), `mv.star.names`, `mv.star.on` (each a ','-joined
  * `p=d` pair list) and `mv.star.parents` (absent when every dim joins the
  * fact). A definition written before join views became stars
  * (`mv.source2.dir`/`mv.source2.name`/`mv.join.on`) reads as a one-dim
  * star. `mv.epoch` counts DROPs and outlives the definition.
  */
private[graft] object MvDefinition {

  private def split(s: String, sep: Char): Seq[String] = s.split(sep).filter(_.nonEmpty).toSeq
  private def pairs(s: String): Seq[(String, String)] =
    split(s, ',').map { p => val Array(l, r) = p.split('='); (l, r) }
  private def pairsText(on: Seq[(String, String)]): String =
    on.map { case (l, r) => s"$l=$r" }.mkString(",")

  /** The view id and definition `props` hold, or None when they hold no
    * definition (no `mv.id`, source dir or keys).
    */
  def read(props: Map[String, String]): Option[(String, MvDefinition)] = {
    def list(k: String) = props.get(k).map(split(_, ',')).getOrElse(Nil)
    for {
      id <- props.get("mv.id")
      srcDir <- props.get("mv.source.dir")
      keys <- props.get("mv.keys")
    } yield {
      val dims = props.get("mv.star.dims").map(split(_, ';')) match {
        case Some(dirs) =>
          val on = split(props.getOrElse("mv.star.on", ""), ';')
          val parents = props.get("mv.star.parents")
            .map(split(_, ';').map(_.toInt)).getOrElse(dirs.map(_ => -1))
          val names = props.get("mv.star.names").map(split(_, ';'))
            .getOrElse(dirs.map(_ => ""))
          // zip silently truncates: a corrupt or hand-edited list shorter
          // than the dim list would drop dims and maintain a WRONG view
          require(Seq(on, parents, names).forall(_.length == dirs.length),
            s"corrupt star-view properties: ${dirs.length} dims but " +
            s"${parents.length} parents / ${on.length} join lists / ${names.length} " +
            "names (mv.star.dims / mv.star.parents / mv.star.on / mv.star.names out of sync)")
          // a parent is the fact or a STRICTLY earlier dim: anything else
          // (self-reference, a cycle) is a join graph no CREATE wrote
          require(parents.zipWithIndex.forall { case (p, i) => p >= -1 && p < i },
            s"corrupt star-view properties: parents ${parents.mkString(";")} " +
            "are not a tree (each must be the fact, -1, or an earlier dim)")
          dirs.indices.map(i => MvDim(names(i), dirs(i), pairs(on(i)), parents(i)))
        case None => props.get("mv.source2.dir").toSeq.map(dir =>
          MvDim(props.getOrElse("mv.source2.name", ""), dir,
            pairs(props.getOrElse("mv.join.on", ""))))
      }
      (id, MvDefinition(props.getOrElse("mv.source.name", ""), srcDir, dims,
        split(keys, ','), list("mv.sums"), list("mv.avgs"), list("mv.counts"),
        list("mv.minmaxs"), list("mv.distincts"), props.get("mv.where").filter(_.nonEmpty)))
    }
  }

  /** The properties that store `d` as view `id`. */
  def write(id: String, d: MvDefinition): Map[String, String] =
    Map(
      "mv.id" -> id,
      "mv.source.dir" -> d.sourceDir,
      "mv.source.name" -> d.source,
      "mv.keys" -> d.keys.mkString(","),
      "mv.sums" -> d.sums.mkString(","),
      "mv.avgs" -> d.avgs.mkString(","),
      "mv.where" -> d.where.getOrElse(""),
      "mv.minmaxs" -> d.minmaxs.mkString(","),
      "mv.distincts" -> d.distincts.mkString(","),
      "mv.counts" -> d.counts.mkString(",")) ++
    (if (d.dims.isEmpty) Map.empty[String, String] else Map(
      "mv.star.dims" -> d.dims.map(_.dir).mkString(";"),
      "mv.star.names" -> d.dims.map(_.name).mkString(";"),
      "mv.star.on" -> d.dims.map(m => pairsText(m.on)).mkString(";"))) ++
    (if (d.dims.forall(_.parent == -1)) Map.empty[String, String]
     else Map("mv.star.parents" -> d.dims.map(_.parent).mkString(";")))

  /** Every definition key `props` holds: each `mv.` key but the epoch. */
  def definitionKeys(props: Map[String, String]): Seq[String] =
    props.keys.filter(k => k.startsWith("mv.") && k != "mv.epoch").toSeq

  /** How many times the view has been dropped. */
  def epoch(props: Map[String, String]): Long =
    props.get("mv.epoch").map(_.toLong).getOrElse(0L)

  /** The property that records one more DROP. */
  def nextEpoch(props: Map[String, String]): Map[String, String] =
    Map("mv.epoch" -> (epoch(props) + 1).toString)
}
