"""Semantic analysis: parsed schema specs → acyclic constraint graph.

Reference parity: src/Data/Medea/Analysis.hs (compileSchemata /
compileSchema and the global checks, in the same order:
start-schema presence, 4× dangling-reference kinds, unused schemata,
acyclicity of the types-as relation).

Type nodes are ordered tuples so candidate sets sort exactly like the
reference's ``Ord TypeNode``: AnyNode < PrimitiveNode t < CustomNode n
(Analysis.hs:84-88), with primitive order Null < Boolean < Number <
String < Array < Object (JSONType.hs:18-25).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from medea_spark.compiler.errors import (
    DanglingTypeReferenceError,
    DanglingTypeRefListError,
    DanglingTypeRefPropError,
    DanglingTypeRefTupleError,
    DefinedButNotUsedError,
    DuplicatePropNameError,
    DuplicateSchemaNameError,
    MinMoreThanMaxError,
    NoStartSchemaError,
    ReservedDefinedError,
    PropertyWithoutObjectError,
    ListWithoutArrayError,
    StringValsWithoutStringError,
    TupleWithoutArrayError,
    TypeRelationIsCyclicError,
)
from medea_spark.compiler.parser import SchemaSpec, parse_schema_text
from medea_spark.compiler.tokens import (
    JSON_ARRAY,
    JSON_OBJECT,
    JSON_STRING,
    PRIM_TYPE_IDENTS,
    is_reserved,
)

# --- Type nodes -----------------------------------------------------------
# (kind, prim_type, custom_name) — tuple comparison reproduces the
# reference's node ordering.  kind: 0 = Any, 1 = Primitive, 2 = Custom.

Node = tuple[int, int, str]

ANY_NODE: Node = (0, 0, "")


def prim_node(json_type: int) -> Node:
    return (1, json_type, "")


def custom_node(name: str) -> Node:
    return (2, 0, name)


def ident_to_node(ident: str | None) -> Node:
    """Reference parity: Analysis.hs:241-244 identToNode."""
    if ident is None:
        return ANY_NODE
    prim = PRIM_TYPE_IDENTS.get(ident)
    if prim is not None:
        return prim_node(prim)
    return custom_node(ident)


@dataclass(frozen=True)
class CompiledSchema:
    """Reference parity: Analysis.hs:90-101 CompiledSchema.

    Extra precomputed fields (``string_val_set`` / ``required_keys``)
    are kernel fast paths — they carry no additional semantics.
    """

    name: str
    types_as: tuple[Node, ...]  # sorted, non-empty
    min_array_len: int | None
    max_array_len: int | None
    array_kind: str | None  # None | "list" | "tuple"
    list_node: Node | None
    tuple_nodes: tuple[Node, ...] | None
    props: dict[str, tuple[Node, bool]]  # name -> (node, optional)
    prop_order: tuple[str, ...]  # declaration order, for error determinism
    additional_props: bool
    additional_prop_schema: Node
    string_vals: tuple[str, ...]
    # kernel fast paths
    string_val_set: frozenset[str] = field(default_factory=frozenset)
    required_keys: tuple[str, ...] = ()  # prop_order minus optionals


class SchemaGraph(dict):
    """``dict[str, CompiledSchema]`` plus a cache slot for the kernel's
    pointer-linked runtime view (built lazily by
    ``medea_spark.kernel.validator.link_graph`` — the walk dispatches on
    resolved CompiledSchema pointers instead of per-reference dict
    lookups).  Plain dicts remain accepted everywhere a SchemaGraph is;
    they just relink per validate call instead of caching.

    Every mutating dict method drops the cached linked view: merging or
    overriding schemas after a first validation must relink, or stale
    pointers would silently validate against the old graph."""

    __slots__ = ("_linked_root",)

    def __reduce__(self):
        # Drop the linked cache when pickling: the validation UDF ships
        # the graph to executors inside its closure, and each worker
        # relinks once (lazily) instead of paying for a serialized
        # object graph twice the size.
        return (SchemaGraph, (dict(self),))

    def _invalidate(self) -> None:
        try:
            del self._linked_root
        except AttributeError:
            pass

    def __setitem__(self, key, value):
        self._invalidate()
        return super().__setitem__(key, value)

    def __delitem__(self, key):
        self._invalidate()
        return super().__delitem__(key)

    def update(self, *args, **kwargs):
        self._invalidate()
        return super().update(*args, **kwargs)

    def clear(self):
        self._invalidate()
        return super().clear()

    def pop(self, *args):
        self._invalidate()
        return super().pop(*args)

    def popitem(self):
        self._invalidate()
        return super().popitem()

    def setdefault(self, *args):
        self._invalidate()
        return super().setdefault(*args)

    def __ior__(self, other):
        # `graph |= other` dispatches to C-level dict.__ior__, NOT
        # update(), so without this override the in-place merge would
        # keep a stale _linked_root and validate against the old graph.
        self._invalidate()
        return super().__ior__(other)


START = "$start"


def _compile_schema(spec: SchemaSpec) -> CompiledSchema:
    """Reference parity: Analysis.hs:145-197 compileSchema."""
    name = spec.name
    if is_reserved(name) and name != START:
        raise ReservedDefinedError(f"schema name {name!r} is reserved")

    min_len = spec.array.min_length
    max_len = spec.array.max_length
    if min_len is not None and max_len is not None and min_len > max_len:
        raise MinMoreThanMaxError(
            f"schema {name!r}: $min-length {min_len} > $max-length {max_len}"
        )

    props: dict[str, tuple[Node, bool]] = {}
    prop_order: list[str] = []
    if spec.object is not None:
        for p in spec.object.properties:
            if p.name in props:
                raise DuplicatePropNameError(
                    f"schema {name!r}: duplicate property {p.name!r}"
                )
            props[p.name] = (ident_to_node(p.schema), p.optional)
            prop_order.append(p.name)

    # Array kind — element type and tuple cannot coexist after parsing.
    array_kind: str | None = None
    list_node: Node | None = None
    tuple_nodes: tuple[Node, ...] | None = None
    if spec.array.element_type is not None:
        array_kind = "list"
        list_node = ident_to_node(spec.array.element_type)
    elif spec.array.tuple_spec is not None:
        array_kind = "tuple"
        tuple_nodes = tuple(ident_to_node(t) for t in spec.array.tuple_spec)
        # Tuple length implies exact bounds (Analysis.hs:166-167, 268-270).
        min_len = len(tuple_nodes)
        max_len = len(tuple_nodes)

    types_as = tuple(sorted({ident_to_node(t) for t in spec.types})) or (ANY_NODE,)

    has_prop_spec = spec.object is not None
    additional = spec.object.additional_allowed if spec.object is not None else True
    additional_schema = ident_to_node(
        spec.object.additional_schema if spec.object is not None else None
    )

    compiled = CompiledSchema(
        name=name,
        types_as=types_as,
        min_array_len=min_len,
        max_array_len=max_len,
        array_kind=array_kind,
        list_node=list_node,
        tuple_nodes=tuple_nodes,
        props=props,
        prop_order=tuple(prop_order),
        additional_props=additional,
        additional_prop_schema=additional_schema,
        string_vals=spec.string_vals,
        string_val_set=frozenset(spec.string_vals),
        required_keys=tuple(k for k in prop_order if not props[k][1]),
    )

    # Spec/type compatibility gates (Analysis.hs:174-185, 301-311).
    types_set = set(types_as)
    if has_prop_spec and prim_node(JSON_OBJECT) not in types_set:
        raise PropertyWithoutObjectError(f"schema {name!r} has $properties without $object")
    has_list_spec = array_kind == "list" or (
        array_kind != "tuple"
        and (spec.array.min_length is not None or spec.array.max_length is not None)
    )
    if has_list_spec and prim_node(JSON_ARRAY) not in types_set:
        raise ListWithoutArrayError(f"schema {name!r} has a list spec without $array")
    if array_kind == "tuple" and prim_node(JSON_ARRAY) not in types_set:
        raise TupleWithoutArrayError(f"schema {name!r} has $tuple without $array")
    if compiled.string_vals and prim_node(JSON_STRING) not in types_set:
        raise StringValsWithoutStringError(
            f"schema {name!r} has $string-values without $string"
        )
    return compiled


# --- reference-edge extractors (Analysis.hs:246-260) ----------------------


def _type_refs(s: CompiledSchema) -> list[Node]:
    return list(s.types_as)


def _prop_refs(s: CompiledSchema) -> list[Node]:
    return [s.props[p][0] for p in s.prop_order] + [s.additional_prop_schema]


def _list_refs(s: CompiledSchema) -> list[Node]:
    return [s.list_node] if s.array_kind == "list" and s.list_node else []


def _tuple_refs(s: CompiledSchema) -> list[Node]:
    return list(s.tuple_nodes) if s.array_kind == "tuple" and s.tuple_nodes else []


def _check_dangling(graph: SchemaGraph, get_refs, err_cls) -> None:
    """Reference parity: Analysis.hs:209-223 (iterates schemas in sorted
    name order because the reference Map is name-ordered)."""
    for name in sorted(graph):
        for node in get_refs(graph[name]):
            if node[0] == 2 and node[2] not in graph:
                raise err_cls(
                    f"schema {name!r} references undefined schema {node[2]!r}",
                    referenced=node[2],
                    referencer=name,
                )


def _check_unused(graph: SchemaGraph) -> None:
    """Reference parity: Analysis.hs:225-238 — every non-$start schema must
    be *referenced somewhere* (not necessarily reachable from $start)."""
    referenced: set[str] = set()
    for s in graph.values():
        for node in _type_refs(s) + _prop_refs(s) + _list_refs(s) + _tuple_refs(s):
            if node[0] == 2:
                referenced.add(node[2])
    for name in sorted(graph):
        if name != START and name not in referenced:
            raise DefinedButNotUsedError(f"schema {name!r} is isolated")


def _check_acyclic(graph: SchemaGraph) -> None:
    """Cycle detection over *types-as edges only* (Analysis.hs:115-121,
    272-276).  Property/list/tuple references may legally be cyclic."""
    edges: dict[str, set[str]] = {}
    for name, s in graph.items():
        outs = {n[2] for n in s.types_as if n[0] == 2}
        if outs:
            edges[name] = outs
    # Iterative DFS 3-color cycle check.
    WHITE, GRAY, BLACK = 0, 1, 2
    color: dict[str, int] = {}
    for root in edges:
        if color.get(root, WHITE) != WHITE:
            continue
        stack: list[tuple[str, list[str]]] = [(root, list(edges.get(root, ())))]
        color[root] = GRAY
        while stack:
            node, todo = stack[-1]
            if todo:
                nxt = todo.pop()
                c = color.get(nxt, WHITE)
                if c == GRAY:
                    raise TypeRelationIsCyclicError(
                        f"type relation cycle through {nxt!r}"
                    )
                if c == WHITE:
                    color[nxt] = GRAY
                    stack.append((nxt, list(edges.get(nxt, ()))))
            else:
                color[node] = BLACK
                stack.pop()


def compile_schemata(specs: list[SchemaSpec]) -> SchemaGraph:
    """Reference parity: Analysis.hs:123-136 compileSchemata."""
    graph = SchemaGraph()
    for spec in specs:
        if spec.name in graph:
            raise DuplicateSchemaNameError(f"schema {spec.name!r} defined twice")
        graph[spec.name] = _compile_schema(spec)
    if START not in graph:
        raise NoStartSchemaError("no $start schema defined")
    _check_dangling(graph, _type_refs, DanglingTypeReferenceError)
    _check_dangling(graph, _prop_refs, DanglingTypeRefPropError)
    _check_dangling(graph, _list_refs, DanglingTypeRefListError)
    _check_dangling(graph, _tuple_refs, DanglingTypeRefTupleError)
    _check_unused(graph)
    _check_acyclic(graph)
    return graph


def compile_schema_text(source: str | bytes) -> SchemaGraph:
    """Full pipeline: decode → parse → analyze (reference: Loader.hs
    buildSchema, :100-104)."""
    return compile_schemata(parse_schema_text(source))
