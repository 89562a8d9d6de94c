"""Dremel record assembly: (definition, repetition) levels -> Arrow.

The reference assembles nested LIST/MAP columns with per-value Cython
loops (fastparquet/cencoding.pyx:376-439 _assemble_objects, schema tree
fastparquet/schema.py:154-198).  Here the same semantics are computed
with numpy set operations over whole level streams (one def/rep array
per LEAF, as parquet stores them):

- slots of a node = entries of any descendant leaf's stream with
  ``rep <= node.r`` (entries with larger rep continue a deeper list);
- an OPTIONAL node is null in slots whose entry has ``def < node.d``;
  its children read the SAME stream (a null struct still occupies one
  slot in every descendant, exactly like Arrow's layout);
- a REPEATED node opens a new parent slot at ``rep < node.r``, counts an
  element at ``rep <= node.r and def >= node.d`` (an empty/null list is
  one entry with smaller def, zero elements), turns the counts into
  Arrow offsets, and hands children the stream filtered to
  ``def >= node.d``;
- a leaf scatters its decoded non-null values into ``def == d_leaf``
  positions — top-down filtering preserves order, so the values line up
  with no per-value bookkeeping.

Arrow typing follows pyarrow's parquet mapping: LIST-annotated groups
become ``list`` (2-level and 3-level layouts), MAP / MAP_KEY_VALUE
become ``map``, an un-annotated repeated group becomes a list of struct
under the group's own name, plain groups become structs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from fastparquet_spark.format.metadata import ConvertedType, Repetition

_MAP_CONVS = (ConvertedType.MAP, ConvertedType.MAP_KEY_VALUE)


@dataclass
class Node:
    elem: dict
    children: list["Node"] = field(default_factory=list)
    d: int = 0  # cumulative definition depth at THIS node (inclusive)
    r: int = 0  # cumulative repetition depth at THIS node (inclusive)

    @property
    def name(self) -> str:
        return self.elem["name"]

    @property
    def repetition(self) -> int:
        return self.elem.get("repetition_type", Repetition.REQUIRED)

    @property
    def is_leaf(self) -> bool:
        return not self.children


def build_tree(schema_elems: list[dict]) -> Node:
    """Parse the flat thrift schema list into a tree with cumulative
    definition/repetition depths per node."""
    it = iter(schema_elems)
    root = Node(elem=next(it))

    def parse(d: int, r: int) -> Node:
        elem = next(it)
        rep = elem.get("repetition_type", Repetition.REQUIRED)
        if rep == Repetition.OPTIONAL:
            d += 1
        elif rep == Repetition.REPEATED:
            d += 1
            r += 1
        n = Node(elem=elem, d=d, r=r)
        for _ in range(elem.get("num_children") or 0):
            n.children.append(parse(d, r))
        return n

    for _ in range(root.elem.get("num_children") or 0):
        root.children.append(parse(0, 0))
    return root


def leaves(root: Node) -> list[tuple[tuple[str, ...], Node]]:
    """(path, node) for every leaf in schema order; path excludes root."""
    out: list[tuple[tuple[str, ...], Node]] = []

    def walk(n: Node, path: tuple[str, ...]):
        p = path + (n.name,)
        if n.is_leaf:
            out.append((p, n))
        for c in n.children:
            walk(c, p)

    for c in root.children:
        walk(c, ())
    return out


def _first_leaf_stream(node: Node, streams, path):
    """(defs, reps) of the first leaf under ``node`` — structure at and
    above this node is identical for every descendant leaf."""
    n, p = node, path + (node.name,)
    while not n.is_leaf:
        n = n.children[0]
        p = p + (n.name,)
    defs, reps, _vals = streams[p]
    return defs, reps


def _slot_validity(node: Node, streams, path) -> np.ndarray:
    """Presence bitmap over this node's slots (one per ``rep <= node.r``
    entry), True where ``def >= node.d``."""
    defs, reps = _first_leaf_stream(node, streams, path)
    if reps is not None:
        defs = defs[reps <= node.r]
    if node.d == 0:
        return np.ones(len(defs), bool)
    return defs >= node.d


def _validity_buf(validity: np.ndarray):
    if validity.all():
        return None, 0
    return (pa.py_buffer(np.packbits(validity, bitorder="little")),
            int((~validity).sum()))


def _filter_streams(streams, min_def: int):
    """Keep only entries that belong under a repeated node (def >= min_def)."""
    return {p: (defs[defs >= min_def],
                reps[defs >= min_def] if reps is not None else None,
                vals)
            for p, (defs, reps, vals) in streams.items()}


def _assemble(node: Node, streams, path, to_arrow_leaf,
              as_content: bool = False) -> pa.Array:
    """Arrow array for ``node`` from its subtree's leaf streams (already
    filtered to this node's context).  ``as_content=True`` builds a
    repeated node's per-element content instead of its list layer."""
    p = path + (node.name,)

    if node.repetition == Repetition.REPEATED and not as_content:
        defs, reps = _first_leaf_stream(node, streams, path)
        if reps is None:
            reps = np.zeros(len(defs), dtype=np.int64)
        starts = reps < node.r
        n_slots = int(starts.sum())
        is_elem = (reps <= node.r) & (defs >= node.d)
        grp = np.cumsum(starts) - 1
        counts = (np.bincount(grp[is_elem], minlength=n_slots)
                  if n_slots else np.zeros(0, np.int64))
        offsets = np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
        elem = _assemble(node, _filter_streams(streams, node.d), path,
                         to_arrow_leaf, as_content=True)
        typ = pa.list_(pa.field(*_elem_field(node, elem.type)))
        return pa.Array.from_buffers(
            typ, n_slots, [None, pa.py_buffer(offsets)],
            children=[elem])

    if node.is_leaf:
        defs, _reps, vals = streams[p]
        validity = defs >= node.d if node.d else np.ones(len(defs), bool)
        return to_arrow_leaf(validity, vals, node.elem)

    conv = node.elem.get("converted_type")
    if conv == ConvertedType.LIST and len(node.children) == 1:
        # LIST-annotated wrapper: this node carries the list's
        # nullability; the repeated child supplies offsets + elements
        validity = _slot_validity(node, streams, path)
        vbuf, nc = _validity_buf(validity)
        lst = _assemble(node.children[0], streams, p, to_arrow_leaf)
        return pa.Array.from_buffers(lst.type, len(lst),
                                     [vbuf, lst.buffers()[1]],
                                     null_count=nc, children=[lst.values])

    if conv in _MAP_CONVS and len(node.children) == 1:
        validity = _slot_validity(node, streams, path)
        vbuf, nc = _validity_buf(validity)
        kv = _assemble(node.children[0], streams, p, to_arrow_leaf)
        entries = kv.values  # struct<key, value>
        mtype = pa.map_(entries.type.field(0).type, entries.type.field(1).type)
        return pa.Array.from_buffers(mtype, len(kv),
                                     [vbuf, kv.buffers()[1]],
                                     null_count=nc, children=[entries])

    # plain struct group — or a repeated group's per-element content
    if len(node.children) == 1 and as_content and _unwrap_single(node):
        # 3-level LIST inner group ("list"/"bag" with one child): the
        # element IS the single child, not a one-field struct
        return _assemble(node.children[0], streams, p, to_arrow_leaf)
    validity = _slot_validity(node, streams, path) if not as_content else None
    if as_content or node.repetition == Repetition.REQUIRED:
        defs, reps = _first_leaf_stream(node, streams, path)
        n = len(defs if reps is None else defs[reps <= node.r])
        validity = np.ones(n, bool)
    vbuf, nc = _validity_buf(validity)
    kids = [_assemble(c, streams, p, to_arrow_leaf) for c in node.children]
    typ = pa.struct([
        pa.field(c.name, k.type,
                 nullable=c.repetition == Repetition.OPTIONAL)
        for c, k in zip(node.children, kids)])
    return pa.Array.from_buffers(typ, len(validity), [vbuf],
                                 null_count=nc, children=kids)


def _unwrap_single(rep_group: Node) -> bool:
    """Backward-compat rule for 3-level lists: a single-child repeated
    group is the list's middle level UNLESS its name marks it as a real
    struct element (parquet format spec, LogicalTypes.md)."""
    name = rep_group.name
    return not (name == "array" or name.endswith("_tuple"))


def _elem_field(rep_node: Node, elem_type) -> tuple[str, object, bool]:
    """(name, type, nullable) of the list element field, pyarrow-style."""
    if rep_node.is_leaf or len(rep_node.children) != 1 \
            or not _unwrap_single(rep_node):
        # element is the repeated entry itself: named after it, non-null
        return rep_node.name, elem_type, False
    child = rep_node.children[0]
    return child.name, elem_type, child.repetition == Repetition.OPTIONAL


def assemble_column(root_child: Node, streams, to_arrow_leaf) -> pa.Array:
    """Assemble one top-level column from {leaf_path: (defs, reps, vals)}."""
    return _assemble(root_child, streams, (), to_arrow_leaf)
