"""MemoryPolicy resolution + OMO write-path enforcement.

Reference semantics:

- ``models/shared_types.py:2107-2280`` — MemoryPolicy: ``mode`` (auto|manual,
  'structured' deprecated alias for manual), ``nodes``/``relationships`` for
  manual mode (``$this``/``$previous`` placeholders), ``node_constraints`` /
  ``edge_constraints`` for auto mode, ``schema_id``, and the OMO safety fields
  ``consent`` (explicit|implicit|terms|none) / ``risk`` (none|sensitive|flagged)
  / ``acl``.
- ``services/memory_policy_resolver.py:22-117`` — merge_memory_policies /
  _apply_policy_layer: precedence is system defaults -> type-level constraints
  -> schema-level memory_policy -> memory-level memory_policy.  Scalar fields
  override; constraint lists MERGE (memory-level wins per key).
- ``services/memory_policy_resolver.py:103-208`` — node constraints keyed by
  ``node_type`` (constraints without one are ignored); edge constraints keyed by
  the composite ``(edge_type, source_type, target_type)``.
- ``services/memory_policy_resolver.py:211-320`` — extract_type_level_constraints
  from per-type ``constraint`` fields; single-element allowed_source/target_types
  are inferred onto edge constraints.
- ``services/omo_safety.py:26-130`` — consent='none' drops extracted nodes;
  every node is annotated with ``_omo_consent``/``_omo_risk``; risk='flagged'
  additionally marks requires_review and restricts the ACL to the owner only.
- ``services/omo_safety.py:310-334`` — level validators + policy-mode ->
  extraction-method mapping ('manual'/'structured' -> manual, else llm).

Spark-first shape: policy RESOLUTION is driver-side plan configuration — one
small dict per request that decides which ingest branches run (no data moves
through it).  OMO ENFORCEMENT is data-plane: ``enforce_omo`` is a
broadcast-friendly join plus pure Column expressions over the extracted-nodes
table, so it runs at scan parallelism on any corpus size — no per-row Python.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_MODE = "auto"
DEFAULT_CONSENT = "implicit"
DEFAULT_RISK = "none"

CONSENT_LEVELS = {"explicit", "implicit", "terms", "none"}
RISK_LEVELS = {"none", "sensitive", "flagged"}


# --------------------------------------------------------------------------- #
# validation / normalization
# --------------------------------------------------------------------------- #

def validate_consent_level(consent: str) -> bool:
    """omo_safety.py:310-314."""
    return consent in CONSENT_LEVELS


def validate_risk_level(risk: str) -> bool:
    """omo_safety.py:316-319."""
    return risk in RISK_LEVELS


def normalize_mode(mode: str | None) -> str:
    """shared_types.py:2243-2257: 'structured' is a deprecated alias for
    'manual'; None falls back to the default."""
    if mode is None:
        return DEFAULT_MODE
    if mode == "structured":
        return "manual"
    if mode not in ("auto", "manual"):
        raise ValueError(f"mode must be auto|manual (or deprecated 'structured'), got {mode!r}")
    return mode


def extraction_method(mode: str) -> str:
    """omo_safety.py:322-334: audit-trail method for a policy mode."""
    return "manual" if mode in ("manual", "structured") else "llm"


# --------------------------------------------------------------------------- #
# layered merge (memory_policy_resolver.py:22-208)
# --------------------------------------------------------------------------- #

def merge_memory_policies(schema_policy: dict[str, Any] | None,
                          memory_policy: dict[str, Any] | None) -> dict[str, Any]:
    """Merge schema-level and memory-level policies over system defaults.
    Memory-level wins; constraint lists merge per key."""
    merged: dict[str, Any] = {
        "mode": DEFAULT_MODE,
        "consent": DEFAULT_CONSENT,
        "risk": DEFAULT_RISK,
        "node_constraints": [],
        "edge_constraints": [],
        "nodes": None,
        "relationships": None,
        "acl": None,
    }
    if schema_policy:
        _apply_policy_layer(merged, schema_policy)
    if memory_policy:
        _apply_policy_layer(merged, memory_policy)
    merged["mode"] = normalize_mode(merged["mode"])
    return merged


def _apply_policy_layer(base: dict[str, Any], layer: dict[str, Any]) -> None:
    """One layer on top of ``base`` (mutates): scalars override, constraint
    lists merge (memory_policy_resolver.py:67-100)."""
    for key in ("mode", "consent", "risk", "acl"):
        if layer.get(key):
            base[key] = layer[key]
    for key in ("nodes", "relationships"):
        if layer.get(key) is not None:
            base[key] = layer[key]
    if layer.get("node_constraints"):
        base["node_constraints"] = _merge_node_constraints(
            base.get("node_constraints", []), layer["node_constraints"])
    if layer.get("edge_constraints"):
        base["edge_constraints"] = _merge_edge_constraints(
            base.get("edge_constraints", []), layer["edge_constraints"])


def _merge_node_constraints(schema_constraints: list[dict],
                            memory_constraints: list[dict]) -> list[dict]:
    """Keyed by node_type; memory-level wins per type, constraints without a
    node_type are ignored (memory_policy_resolver.py:103-151)."""
    memory_by_type = {c["node_type"]: c for c in memory_constraints if c.get("node_type")}
    merged, schema_types = [], set()
    for c in schema_constraints:
        node_type = c.get("node_type")
        if not node_type:
            # documented contract: constraints without a node_type are
            # ignored — previously only the MEMORY layer enforced this and a
            # typeless SCHEMA constraint leaked into the resolved policy
            continue
        schema_types.add(node_type)
        merged.append(memory_by_type.get(node_type, c))
    for node_type, c in memory_by_type.items():
        if node_type not in schema_types:
            merged.append(c)
    return merged


def _edge_key(c: dict) -> tuple:
    return (c.get("edge_type"), c.get("source_type"), c.get("target_type"))


def _merge_edge_constraints(schema_constraints: list[dict],
                            memory_constraints: list[dict]) -> list[dict]:
    """Keyed by (edge_type, source_type, target_type); memory-level wins per
    exact key (memory_policy_resolver.py:153-208)."""
    memory_by_key = {_edge_key(c): c for c in memory_constraints}
    merged, schema_keys = [], set()
    for c in schema_constraints:
        key = _edge_key(c)
        schema_keys.add(key)
        merged.append(memory_by_key.get(key, c))
    for key, c in memory_by_key.items():
        if key not in schema_keys:
            merged.append(c)
    return merged


# --------------------------------------------------------------------------- #
# schema-derived layers (memory_policy_resolver.py:211-395)
# --------------------------------------------------------------------------- #

def extract_type_level_constraints(schema: Any) -> dict[str, list[dict]]:
    """Per-type ``constraint`` fields -> policy-compatible constraint lists.
    Accepts a dict with ``node_types`` / ``relationship_types`` maps (the
    reference's dict form) or any object exposing those attributes.  For edge
    constraints, a single-element allowed_source_types/allowed_target_types is
    inferred onto the constraint (memory_policy_resolver.py:293-309)."""
    node_types = _get(schema, "node_types") or {}
    rel_types = _get(schema, "relationship_types") or {}
    node_constraints, edge_constraints = [], []

    for name, tdef in (node_types.items() if isinstance(node_types, dict) else []):
        constraint = _get(tdef, "constraint")
        if constraint:
            c = dict(constraint)
            c.setdefault("node_type", name)
            node_constraints.append(c)

    for name, tdef in (rel_types.items() if isinstance(rel_types, dict) else []):
        constraint = _get(tdef, "constraint")
        if constraint:
            c = dict(constraint)
            c.setdefault("edge_type", name)
            for side in ("source", "target"):
                if f"{side}_type" not in c:
                    allowed = _get(tdef, f"allowed_{side}_types")
                    if allowed and len(allowed) == 1:
                        c[f"{side}_type"] = allowed[0]
            edge_constraints.append(c)

    return {"node_constraints": node_constraints, "edge_constraints": edge_constraints}


def _get(obj: Any, attr: str):
    if isinstance(obj, dict):
        return obj.get(attr)
    return getattr(obj, attr, None)


def resolve_memory_policy(schema: Any | None = None,
                          memory_policy: dict[str, Any] | None = None) -> dict[str, Any]:
    """Full precedence chain (memory_policy_resolver.py:320-395):
    defaults -> type-level constraints -> schema memory_policy -> memory policy.
    ``schema`` is the registered schema (dict or object) or None."""
    combined_schema_policy = None
    if schema is not None:
        type_level = extract_type_level_constraints(schema)
        schema_policy = _get(schema, "memory_policy")
        if type_level["node_constraints"] or type_level["edge_constraints"]:
            combined_schema_policy = type_level
            if schema_policy:
                combined_schema_policy = merge_memory_policies(type_level, schema_policy)
        elif schema_policy:
            combined_schema_policy = schema_policy
    return merge_memory_policies(combined_schema_policy, memory_policy)


def should_skip_graph_extraction(policy: dict[str, Any]) -> bool:
    """memory_policy_resolver.py:416-425: consent='none' -> no extraction."""
    return policy.get("consent") == "none"


# --------------------------------------------------------------------------- #
# data-plane OMO enforcement (omo_safety.py:26-130)
# --------------------------------------------------------------------------- #

def enforce_omo(entities: DataFrame, memories: DataFrame,
                owner_col: str = "user_id",
                read_col: str = "user_read_access",
                write_col: str = "user_write_access") -> DataFrame:
    """Consent + risk standards over extracted nodes, as Column expressions.

    ``entities``: {memory_id, entity_id, ...} (plans/enrich.extract_entities
    shape); ``memories`` supplies per-memory consent/risk/owner/ACL.

    - consent='none' rows are DROPPED (enforce_consent_standard:44-48);
    - every surviving node gains ``omo_consent``, ``omo_source_memory_id`` and
      ``omo_risk`` annotations (:52-57, :121-128);
    - risk='flagged' nodes gain ``requires_review`` and an ACL restricted to
      the owner only (:94-107); 'sensitive' keeps the memory's normal ACL.

    The memories side projects 5 columns keyed by memory_id — broadcastable at
    any realistic memory-table size; the entities scan stays shuffle-free.
    """
    mem = memories.select(
        "memory_id",
        F.col("consent").alias("_consent"),
        F.col("risk").alias("_risk"),
        F.col(owner_col).alias("_owner"),
        F.col(read_col).alias("_acl_read"),
        F.col(write_col).alias("_acl_write") if write_col in memories.columns
        else F.array().cast("array<string>").alias("_acl_write"),
    )
    flagged = F.col("_risk") == "flagged"
    owner_only = F.when(F.col("_owner").isNotNull(), F.array(F.col("_owner"))).otherwise(F.array())
    return (
        entities.join(mem, "memory_id")
        # keep-on-NULL: the reference's gate is `if consent == "none"` —
        # a missing/None consent does NOT equal "none" in Python, so legacy
        # unlabeled memories still extract nodes (omo_safety.py:43-48).  A
        # bare `!= 'none'` filter would silently drop them (NULL comparison).
        .filter(F.col("_consent").isNull() | (F.col("_consent") != "none"))
        .withColumn("omo_consent", F.col("_consent"))
        .withColumn("omo_source_memory_id", F.col("memory_id"))
        .withColumn("omo_risk", F.coalesce(F.col("_risk"), F.lit(DEFAULT_RISK)))
        .withColumn("requires_review", flagged)
        .withColumn("acl_read", F.when(flagged, owner_only).otherwise(F.col("_acl_read")))
        .withColumn("acl_write", F.when(flagged, owner_only).otherwise(F.col("_acl_write")))
        .drop("_consent", "_risk", "_owner", "_acl_read", "_acl_write")
    )
