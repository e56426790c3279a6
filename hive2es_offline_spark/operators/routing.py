"""ES routing + shard partitioning operators.

Reference: routing key = ``--routing`` else ``--id`` column, else a random
fallback key (``Hive2ES.scala:44,58-62``); partition =
``mod(murmur3(key), shards*multiple)`` via a custom RDD partitioner
(``ESHashPartitioner.scala:15-19``, ``Hive2ES.scala:68-72``).

Spark-first translation: the shard id is a COLUMN (``es_shard``) and the
reference's exact partitioner semantics are reproduced through the
DataFrame API (no RDD hop) with a *probe-key* mapping:

``df.repartition(N, col)`` places every row in partition
``pmod(spark_murmur3(col), N)``.  For each target slot
``s = pmod(es_hash(routing), N)`` we precompute (driver-side, O(N log N)
hash probes) an integer ``probe_keys[s]`` whose Spark hash lands exactly in
partition ``s``; repartitioning on that mapped column pins
``partition index == slot`` bijectively — the same contract as
``ESHashPartitioner.getPartition``.  Consequences, exactly as in the
reference:

* each Spark partition holds ONE ES shard (``slot mod shards`` is constant
  within a partition since ``shards`` divides ``N``), and
* each shard is split across ``multiple`` partitions, so a hot shard is
  written by ``multiple`` concurrent tasks instead of one straggler.

Scale notes: one wide exchange, keyed by a 4-byte int.  The reference
shuffled serialized fastjson objects, and so does this engine:
``jobs/hive2es.build_documents`` repartitions AFTER the document
projection, so each row crosses the wire as ``_id``, ``_routing`` and the
``doc`` JSON string.  The probe-key array is a plan literal of ``N`` ints
(N = shards*multiple; ~10k for a 1000-shard index at the default
multiple) — negligible plan size, zero per-row Python.
"""

from __future__ import annotations

import struct
from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.es_hash import es_hash, es_shard, murmur3_x86_32

DEFAULT_PARTITION_MULTIPLE = 10  # ArgsParser.scala:10,50-52

_SPARK_HASH_SEED = 42  # Spark's Murmur3Hash default seed (HashExpression)


def _spark_int_hash(value: int) -> int:
    """Spark's ``hash()`` of an IntegerType value: murmur3_x86_32 over the
    4-byte little-endian int with seed 42 (Murmur3Hash.hashInt)."""
    return murmur3_x86_32(struct.pack("<i", value), _SPARK_HASH_SEED)


@lru_cache(maxsize=64)
def _probe_keys(num_partitions: int) -> tuple[int, ...]:
    """``probe_keys[s]`` = an int whose Spark hash pmod ``num_partitions``
    equals ``s``.  Coupon-collector search: expected ``N·ln N`` murmur3
    evaluations, driver-side, cached per N."""
    keys: list[int | None] = [None] * num_partitions
    found = 0
    v = 0
    while found < num_partitions:
        p = _spark_int_hash(v) % num_partitions  # Python % == floor mod == pmod
        if keys[p] is None:
            keys[p] = v
            found += 1
        v += 1
    return tuple(keys)  # type: ignore[arg-type]


def with_routing(
    df: DataFrame, id_col: str | None = None, routing_col: str | None = None
) -> DataFrame:
    """Attach ``_routing`` = routing column, else id column, else a random
    UUID (O15, ``Hive2ES.scala:58-62``).

    The UUID fallback matches the reference's random-key fallback and is
    **non-deterministic**: a retried task generates different keys, so a
    re-run is not idempotent (same caveat as the reference — documents get
    new ids on every run).  Prefer an explicit id column; the production
    job (``jobs/hive2es.py``) instead synthesizes a deterministic
    row-hash id precisely to avoid this.
    """
    candidates = []
    if routing_col:
        candidates.append(F.col(routing_col).cast("string"))
    if id_col:
        candidates.append(F.col(id_col).cast("string"))
    routing = F.coalesce(*candidates) if candidates else F.expr("uuid()")
    return df.withColumn("_routing", routing)


def with_shard(df: DataFrame, routing_col: str, num_shards: int, shard_col: str = "_shard") -> DataFrame:
    """Attach the ES shard id column (O16)."""
    return df.withColumn(shard_col, es_shard(routing_col, num_shards))


def repartition_for_shards(
    df: DataFrame,
    routing_col: str,
    num_shards: int,
    multiple: int = DEFAULT_PARTITION_MULTIPLE,
    shard_col: str = "_shard",
) -> DataFrame:
    """Partition documents exactly as ``ESHashPartitioner.scala:15-19``:
    partition index = ``pmod(es_hash(routing), num_shards * multiple)``
    (``Hive2ES.scala:43,68-72``).

    Every output partition holds documents of exactly one ES shard, and
    every shard spans ``multiple`` partitions — a hot shard is written by
    ``multiple`` concurrent tasks (skew bound), not one.  Null routing
    hashes to slot 0 / shard 0, matching the partitioner's null handling.
    """
    n = num_shards * multiple
    if n > 1 << 16:
        # the probe-key array is a plan literal of n ints and the driver
        # search is O(n log n) murmur evaluations — both fine to 64k
        # partitions (a 6k-shard index at the default multiple); beyond
        # that, raise deliberately rather than inflate plans silently
        raise ValueError(
            f"num_shards * multiple = {n} exceeds 65536 partitions; "
            "lower the partition multiple for very-high-shard indexes"
        )
    h = F.coalesce(es_hash(F.col(routing_col).cast("string")), F.lit(0))
    out = df.withColumn("_es_slot", F.pmod(h, F.lit(n)).cast("int"))
    # slot mod shards == es_hash mod shards (shards divides n), so the
    # shard column derived from the slot agrees with es_shard().
    out = out.withColumn(shard_col, F.pmod(F.col("_es_slot"), F.lit(num_shards)).cast("int"))
    keys = _probe_keys(n)
    # F.lit(list) is a true array Literal; F.array(*lits) would be a
    # per-row CreateArray that codegen re-materializes for every row —
    # measured 3x slower at just m=16 (pq.py), and this is the widest
    # shuffle in the job at the documented 10k-slot default (ADVICE r6)
    probe = F.element_at(F.lit([int(k) for k in keys]), F.col("_es_slot") + 1)
    return (
        out.withColumn("_slot_key", probe)
        .repartition(n, F.col("_slot_key"))
        .drop("_slot_key", "_es_slot")
    )


def partition_counts(df: DataFrame, routing_col: str, num_shards: int) -> DataFrame:
    """Docs per shard — the reference's per-partition count log
    (``Hive2ES.scala:85-90``) as a first-class skew diagnostic."""
    return (
        with_shard(df, routing_col, num_shards)
        .groupBy("_shard")
        .agg(F.count(F.lit(1)).alias("doc_count"))
    )
