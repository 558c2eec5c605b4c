"""Dynamic user-defined schema registry (SURVEY §1.5).

The reference registers custom node types at runtime and derives BOTH
validation and merge-key selection from them:

- schema model: ``models/user_schemas.py:64-180`` (UserNodeType: ``properties``
  with type/required, ``required_properties``, ``unique_identifiers``,
  ``resolution_policy``) and the dynamic pydantic classes
  ``models/cipher_ast.py:66-280`` (extra properties forbidden, type mapping
  string/integer/float/boolean/array/datetime);
- merge-key selection: ``memory/memory_graph.py:10692-10712``
  (_get_unique_identifiers_for_node_type) feeding the schema-aware MERGE at
  ``memory/memory_graph.py:10542-10615`` — nodes WITH unique identifiers merge
  on them, nodes without fall back to content-based resolution.

Spark-first re-expression: the registry IS a tiny ``schemas`` DataFrame
(one row per (schema_id, node_type, property)) — a broadcastable dimension, so
every rule it drives compiles to Catalyst Column expressions evaluated at scan
scale; no per-row Python.  Node properties ride in a ``props``
map<string,string> column (the dynamic-width analog of pydantic kwargs).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

SCHEMA_DDL = ("schema_id string, node_type string, property string, "
              "prop_type string, required boolean, is_unique boolean")

_ALLOWED_TYPES = {"string", "integer", "float", "boolean", "array", "datetime", "object"}

# type-conformance regexes for map<string,string> property payloads
_TYPE_PATTERNS = {
    "integer": r"^-?[0-9]+$",
    "float": r"^-?[0-9]+(\.[0-9]+)?([eE][+-]?[0-9]+)?$",
    "boolean": r"^(true|false)$",
}


@dataclass
class NodeTypeDef:
    """Driver-side mirror of one UserNodeType (models/user_schemas.py:64-180)."""

    name: str
    properties: dict[str, str] = field(default_factory=dict)   # prop -> type
    required: list[str] = field(default_factory=list)
    unique_identifiers: list[str] = field(default_factory=list)
    resolution_policy: str = "upsert"                           # upsert | lookup
    #: optional per-type default NodeConstraint dict (models/user_schemas.py
    #: UserNodeType.constraint) — feeds memory_policy.extract_type_level_constraints
    constraint: dict | None = None

    def __post_init__(self) -> None:
        if len(self.properties) > 10:
            raise ValueError(
                f"Node type cannot have more than 10 properties (found {len(self.properties)})"
            )
        for t in self.properties.values():
            if t not in _ALLOWED_TYPES:
                raise ValueError(f"unknown property type: {t}")
        for p in self.required:
            if p not in self.properties:
                raise ValueError(f"Required property '{p}' not found in properties")
        for p in self.unique_identifiers:
            if p not in self.properties:
                raise ValueError(f"Unique identifier property '{p}' not found in properties")
        if self.resolution_policy not in ("upsert", "lookup"):
            raise ValueError(f"unknown resolution_policy: {self.resolution_policy}")


class SchemaRegistry:
    """Holds registered node types; compiles them to a DataFrame + Columns."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._types: dict[tuple[str, str], NodeTypeDef] = {}
        self._policies: dict[str, dict] = {}          # schema-level memory_policy
        self._rel_types: dict[str, dict] = {}         # schema_id -> {rel_type: def dict}

    # -- registration ---------------------------------------------------------

    def register(self, schema_id: str, node_types: list[NodeTypeDef],
                 memory_policy: dict | None = None,
                 relationship_types: dict[str, dict] | None = None) -> None:
        """POST /v1/schemas analog: idempotent by (schema_id, node_type).
        ``memory_policy`` is the schema-level default policy
        (models/shared_types.py:2124-2126); ``relationship_types`` mirrors
        UserRelationshipType dicts ({constraint, allowed_source_types, ...})."""
        for nt in node_types:
            self._types[(schema_id, nt.name)] = nt
        if memory_policy is not None:
            self._policies[schema_id] = memory_policy
        if relationship_types is not None:
            self._rel_types[schema_id] = relationship_types

    def schema_dict(self, schema_id: str) -> dict | None:
        """The registered schema in the resolver's dict form
        (memory_policy.resolve_memory_policy input); None if unknown."""
        node_types = {
            name: {"constraint": nt.constraint}
            for (sid, name), nt in self._types.items() if sid == schema_id
        }
        if not node_types and schema_id not in self._policies:
            return None
        return {
            "node_types": node_types,
            "relationship_types": self._rel_types.get(schema_id, {}),
            "memory_policy": self._policies.get(schema_id),
        }

    def to_df(self) -> DataFrame:
        """The normalized ``schemas`` table — one row per property.  Tiny by
        construction (<=10 props/type): always broadcastable."""
        rows = []
        for (sid, _), nt in sorted(self._types.items()):
            for prop, ptype in sorted(nt.properties.items()):
                rows.append((sid, nt.name, prop, ptype,
                             prop in nt.required, prop in nt.unique_identifiers))
        return self.spark.createDataFrame(rows, SCHEMA_DDL)

    def node_type(self, name: str, schema_id: str | None = None) -> NodeTypeDef | None:
        for (sid, n), nt in self._types.items():
            if n == name and (schema_id is None or sid == schema_id):
                return nt
        return None

    # -- merge-key selection (memory_graph.py:10692-10712) --------------------

    def merge_keys(self, node_type: str) -> list[str]:
        """unique_identifiers for the type; [] means the caller must fall back
        to content-based resolution (memory_graph.py:10610-10612)."""
        nt = self.node_type(node_type)
        return list(nt.unique_identifiers) if nt else []

    # -- validation compiler --------------------------------------------------

    def validation_errors(self, node_type: str,
                          props_col: str = "props") -> Column:
        """Compile the type's rules to ONE Column: array of violation strings
        (empty array == valid).  Evaluates JVM-side per row — schema checks run
        at scan parallelism, not in Python."""
        nt = self.node_type(node_type)
        if nt is None:
            return F.array(F.lit(f"unknown node type: {node_type}"))
        p = F.col(props_col)
        errs = []
        for prop in nt.required:
            errs.append(
                F.when(F.element_at(p, prop).isNull(),
                       F.lit(f"missing required property: {prop}"))
            )
        for prop, pat in ((pr, _TYPE_PATTERNS.get(t)) for pr, t in nt.properties.items()):
            if pat is None:
                continue
            v = F.element_at(p, prop)
            errs.append(
                F.when(v.isNotNull() & ~v.rlike(pat),
                       F.lit(f"type violation: {prop}"))
            )
        # extra='forbid' (cipher_ast.py model_config): undeclared keys rejected
        declared = F.array(*[F.lit(k) for k in nt.properties]) if nt.properties else F.array()
        extras = F.filter(F.map_keys(p), lambda k: ~F.array_contains(declared, k))
        errs.append(
            F.when(F.size(extras) > 0,
                   F.concat(F.lit("undeclared properties: "), F.array_join(extras, ",")))
        )
        return F.filter(F.array(*errs), lambda e: e.isNotNull())

    def validate(self, nodes: DataFrame, node_type: str,
                 props_col: str = "props") -> DataFrame:
        """Adds ``violations`` (array<string>) and ``is_valid``."""
        errs = self.validation_errors(node_type, props_col)
        return nodes.withColumn("violations", errs).withColumn(
            "is_valid", F.size("violations") == 0
        )

    def reject_invalid(self, nodes: DataFrame, node_type: str,
                       props_col: str = "props") -> DataFrame:
        """Write-path gate: raises on the first violating row (the pydantic
        ValidationError analog), returns the validated frame otherwise."""
        checked = self.validate(nodes, node_type, props_col)
        bad = checked.filter(~F.col("is_valid")).select("violations").first()
        if bad is not None:
            raise ValueError(f"schema validation failed: {bad.violations}")
        return checked.drop("violations", "is_valid")


def props_from_columns(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Lift fixed prop_* columns into the generic ``props`` map (for tables that
    predate dynamic schemas): mapping = {prop_name_in_schema: source_column}."""
    pairs = []
    for prop, col in mapping.items():
        pairs.extend([F.lit(prop), F.col(col).cast("string")])
    return df.withColumn("props", F.map_filter(F.create_map(*pairs),
                                               lambda _, v: v.isNotNull()))


def schema_merge_nodes(existing: DataFrame, incoming: DataFrame,
                       registry: SchemaRegistry, node_type: str,
                       props_col: str = "props") -> DataFrame:
    """G8 MERGE with schema-selected keys (memory_graph.py:10542-10615): the
    registry's unique_identifiers become the match columns; incoming rows
    replace matches, the rest append.  Raises when the type defines no
    unique identifiers — callers must route those to content-based resolution
    instead (memory_graph.py:10610-10612)."""
    keys = registry.merge_keys(node_type)
    if not keys:
        raise ValueError(
            f"no unique_identifiers for {node_type}: use content-based resolution"
        )
    def keyed(df: DataFrame) -> DataFrame:
        out = df
        for k in keys:
            out = out.withColumn(f"_key_{k}", F.element_at(F.col(props_col), k))
        return out

    key_cols = [f"_key_{k}" for k in keys]
    ex, inc = keyed(existing), keyed(incoming)
    kept = ex.join(inc.select(*key_cols).distinct(), key_cols, "left_anti")
    return kept.unionByName(inc).drop(*key_cols)
