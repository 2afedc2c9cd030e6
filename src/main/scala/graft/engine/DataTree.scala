package graft.engine

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Row-local dynamic result tree, mirroring the reference's ShadowData
  * (/root/reference/src/shadow_api/shadow_data.rs:14-27): exactly three
  * value kinds (String / Array / insertion-ordered Object), every node
  * carrying the creating rule's selector id and a parent pointer (the
  * cursor's go_up() follows the parent pointer, NOT a stack —
  * shadow_data_cursor.rs:33-44, observable in the sibling-array hops).
  */
final class DNode(var id: Int, var parent: DNode) {
  var kind: Int = DNode.KStr
  var str: String = ""
  var arr: ArrayBuffer[DNode] = _
  var obj: mutable.LinkedHashMap[String, DNode] = _

  def get(key: String): Option[DNode] = {
    if (kind != DNode.KObj)
      throw new DataTreeError(s"ShadowData::get cannot be applied on ${DNode.kindName(kind)} subtype")
    obj.get(key)
  }

  /** Deep-merge set, mirroring ShadowData::set (shadow_data.rs:182-223):
    * existing+incoming both Objects -> recursive merge; otherwise the
    * existing node's CONTENTS are overridden in place (other references,
    * e.g. the cursor, observe the new value). */
  def set(key: String, v: DNode): Unit = {
    if (kind != DNode.KObj)
      throw new DataTreeError(s"ShadowData::set cannot be applied on ${DNode.kindName(kind)} subtype")
    obj.get(key) match {
      case None => obj.update(key, v)
      case Some(existing) =>
        if (existing.kind == DNode.KObj && v.kind == DNode.KObj)
          DNode.merge(existing, v)
        else
          existing.overrideWith(v)
    }
  }

  def push(v: DNode): Unit = {
    if (kind != DNode.KArr)
      throw new DataTreeError(s"ShadowData::push cannot be applied on ${DNode.kindName(kind)} subtype")
    arr += v
  }

  /** Replace this node's contents with v's (the reference's
    * `*existing = val.take()` — shadow_data.rs:214). */
  def overrideWith(v: DNode): Unit = {
    kind = v.kind; str = v.str; arr = v.arr; obj = v.obj
    id = v.id; parent = v.parent
  }

  /** Post-hoc string transform over collected values (not keys) —
    * ShadowData::transform_strings (shadow_data.rs:251-269). */
  def transformStrings(f: String => String): Unit = kind match {
    case DNode.KStr => str = f(str)
    case DNode.KArr => arr.foreach(_.transformStrings(f))
    case DNode.KObj => obj.valuesIterator.foreach(_.transformStrings(f))
  }
}

final class DataTreeError(msg: String) extends RuntimeException(msg)

object DNode {
  final val KStr = 0; final val KArr = 1; final val KObj = 2
  def kindName(k: Int): String = k match {
    case KStr => "String"; case KArr => "Array"; case _ => "Object"
  }

  def newString(id: Int, parent: DNode, v: String): DNode = {
    val n = new DNode(id, parent); n.kind = KStr; n.str = v; n
  }
  def newArray(id: Int, parent: DNode): DNode = {
    val n = new DNode(id, parent); n.kind = KArr; n.arr = new ArrayBuffer[DNode](4); n
  }
  def newObject(id: Int, parent: DNode): DNode = {
    val n = new DNode(id, parent); n.kind = KObj; n.obj = mutable.LinkedHashMap.empty; n
  }

  /** merge map2 into map1 (shadow_data.rs:152-181). */
  def merge(o1: DNode, o2: DNode): Unit = {
    o2.obj.foreach { case (k, v2) =>
      o1.obj.get(k) match {
        case Some(v1) =>
          if (v1.kind == KObj && v2.kind == KObj) merge(v1, v2)
          else v1.overrideWith(v2)
        case None => o1.obj.update(k, v2)
      }
    }
  }

  /** Insertion-order JSON writer with the reference's string-escape quirk
    * (shadow_data.rs:40-69): each string value is ROUND-TRIPPED as if it
    * were already-escaped JSON (parse failure -> silently ""), then the
    * unescaped result is written RAW between quotes; keys are written raw
    * (SURVEY.md §2.4 E8).
    */
  def serialize(n: DNode, sb: java.lang.StringBuilder): Unit = n.kind match {
    case KStr =>
      sb.append('"').append(quirkRoundTrip(n.str)).append('"')
    case KArr =>
      sb.append('[')
      var first = true
      n.arr.foreach { c =>
        if (!first) sb.append(','); first = false
        serialize(c, sb)
      }
      sb.append(']')
    case KObj =>
      sb.append('{')
      var first = true
      n.obj.foreach { case (k, v) =>
        if (!first) sb.append(','); first = false
        sb.append('"').append(k).append('"').append(':')
        serialize(v, sb)
      }
      sb.append('}')
  }

  def toJson(n: DNode): String = {
    val sb = new java.lang.StringBuilder(256)
    serialize(n, sb)
    sb.toString
  }

  /** Interpret v as the interior of a JSON string literal; on any invalidity
    * (raw quote/control char, bad escape, trailing backslash, bad \u hex)
    * return "" — exactly what serde_json::from_str("\"{v}\"") does in the
    * reference (shadow_data.rs:45). */
  def quirkRoundTrip(v: String): String = {
    val sb = new java.lang.StringBuilder(v.length)
    var i = 0
    val n = v.length
    while (i < n) {
      val c = v.charAt(i)
      if (c == '"') return ""             // early terminator + trailing garbage
      else if (c < ' ') return ""         // raw control char is invalid JSON
      else if (c == '\\') {
        if (i + 1 >= n) return ""
        v.charAt(i + 1) match {
          case '"'  => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '/'  => sb.append('/'); i += 2
          case 'b'  => sb.append('\b'); i += 2
          case 'f'  => sb.append('\f'); i += 2
          case 'n'  => sb.append('\n'); i += 2
          case 'r'  => sb.append('\r'); i += 2
          case 't'  => sb.append('\t'); i += 2
          case 'u'  =>
            if (i + 6 > n) return ""
            val hex = v.substring(i + 2, i + 6)
            var code = 0
            var k = 0
            while (k < 4) {
              val h = Character.digit(hex.charAt(k), 16)
              if (h < 0) return ""
              code = code * 16 + h
              k += 1
            }
            sb.append(code.toChar); i += 6
          case _ => return ""
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}

/** Cursor over the result tree (shadow_data_cursor.rs:9-44). */
final class DataCursor {
  val root: DNode = DNode.newObject(0, null)
  var current: DNode = root

  def goUp(): Option[String] = {
    if (current.parent != null) { current = current.parent; None }
    else Some("[go_up] cannot move up")
  }
}

object DataOps {
  import graft.rules.DataDef

  /** Port of ShadowData::on_data_tag_open (shadow_data.rs:272-396):
    * sibling-array go_up, dot-path create-or-reuse navigation, trailing-dot
    * array-append semantics keyed by selector id. Returns Right(node at
    * cursor) or Left(error message) — errors never abort the row. */
  def onDataTagOpen(selectorId: Int, dataDef: DataDef, cursor: DataCursor): Either[String, DNode] = {
    val isCurrent = cursor.current.id == selectorId
    val isCurrentArray = cursor.current.kind == DNode.KArr

    if (!isCurrent && isCurrentArray) {
      // Sibling rule reached while cursor sits on the previous sibling's
      // array -> climb out of it first (shadow_data.rs:293-297).
      cursor.goUp() match {
        case Some(err) => return Left(err)
        case None =>
      }
    }

    dataDef.path match {
      case Some(rawPath) =>
        var path = rawPath
        var isArray = false
        if (path.isEmpty)
          return Left("Invalid def : single dot is not a valid path") // ref would panic; treat as invalid path
        if (path.charAt(path.length - 1) == '.') {
          isArray = true
          path = path.substring(0, path.length - 1)
          if (path.isEmpty)
            return Left("Invalid def : single dot is not a valid path")
        }

        // Rust `path.split('.')` keeps empty segments; the peek-based
        // "last word" test fires when the NEXT segment is empty/absent —
        // replicated verbatim (shadow_data.rs:313-390).
        val words = path.split("\\.", -1)
        var currentData = cursor.current
        val preWalkParent = currentData
        var wi = 0
        while (wi < words.length) {
          val word = words(wi)
          val nextEmpty = wi + 1 >= words.length || words(wi + 1).isEmpty
          if (nextEmpty) {
            if (isArray) {
              val dataArray =
                if (isCurrent && isCurrentArray) currentData
                else {
                  currentData.get(word) match {
                    case Some(existing) if existing.kind == DNode.KArr => existing
                    case Some(_) =>
                      val na = DNode.newArray(selectorId, currentData)
                      currentData.set(word, na)
                      // set() overrides the existing node's contents in
                      // place; keep pointing at the node that's in the map
                      currentData.get(word).get
                    case None =>
                      val na = DNode.newArray(selectorId, currentData)
                      currentData.set(word, na)
                      na
                  }
                }
              val newData = DNode.newObject(selectorId, dataArray)
              cursor.current = newData
              dataArray.push(newData)
            } else {
              currentData.get(word) match {
                case Some(existing) => cursor.current = existing
                case None =>
                  val nd = DNode.newObject(selectorId, preWalkParent)
                  currentData.set(word, nd)
                  cursor.current = nd
              }
            }
          } else if (!(isCurrent && isCurrentArray)) {
            currentData.get(word) match {
              case Some(existing) => currentData = existing
              case None =>
                val nd = DNode.newObject(selectorId, preWalkParent)
                currentData.set(word, nd)
                currentData = nd
            }
          }
          wi += 1
        }
        Right(cursor.current)
      case None =>
        Right(cursor.current)
    }
  }

  /** on_data_tag_close (shadow_data.rs:398-411): pop only if the rule had
    * a path. */
  def onDataTagClose(dataDef: DataDef, cursor: DataCursor): Option[String] =
    if (dataDef.path.isDefined) cursor.goUp() else None
}
