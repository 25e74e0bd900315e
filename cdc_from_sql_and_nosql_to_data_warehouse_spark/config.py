"""Engine configuration.

Plays the role the reference's ``cdk.json`` context plays (reference
``cdk.json:3-26``) for the settings the CDC hops read: the document key,
the micro-batch bound and the apply semantics. Names, paths and
cadences are arguments of the calls that use them, not config fields.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass
class EngineConfig:
    """The knobs the CDC hops read, in one place (reference O3 operator)."""

    # --- key column of the NoSQL document store (reference: DynamoDB
    # partition key `id: STRING`, `cdk_infrastructure/__init__.py:287-289`)
    document_key: str = "id"

    # --- stream micro-batch bound (reference: <=100 records per Lambda
    # invocation, `cdk_infrastructure/__init__.py:355-356`)
    max_files_per_trigger: int = 100

    # --- apply semantics (SURVEY §7 hard part 3: bug-compatible append
    # vs clean upsert must be a visible switch)
    apply_mode: str = "append"  # "append" | "upsert" | "history"
    propagate_deletes: bool = False  # reference drops REMOVE (README.md:30)
    # hive-partition columns of the warehouse table (100 TB layout:
    # partition-pruned merges + dynamic partition overwrite); None = flat
    partition_by: list[str] | None = None


SF_DIRS = {
    0.001: "/root/testdata/sf0.001",
    0.01: "/root/testdata/sf0.01",
    0.1: "/root/testdata/sf0.1",
}

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
