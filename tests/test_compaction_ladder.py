"""The size-tiered compaction ladder shared by every streaming layer
store (``BatchPartitionedIndex._compact_layers``).

The first test drives the real ladder without Spark: the merge step's
row pipeline is stubbed and the store's write hook writes a
``batch_id=-g`` dir whose byte size is the sum of its sources, so a
seeded sequence of folds and compactions checks the ladder's
invariants against a model in milliseconds. The second covers the
shared layer reader's fallback for layers written without the
data-age key ``src``.
"""

from __future__ import annotations

import os
import random

import pytest

from parseable_spark.streaming.dedup_index import BatchPartitionedIndex

_JUNK = "batch_id=__HIVE_DEFAULT_PARTITION__"


class _ByteLadder(BatchPartitionedIndex):
    """The base-class ladder over dirs holding one file of N bytes."""

    def __init__(self, root: str, max_generations: int, merge_fanout: int):
        self.root = root
        self.max_generations = max_generations
        self.merge_fanout = merge_fanout
        self.merges: list[tuple[list[int], int, dict[int, int]]] = []

    def _first_rows(self, root, layers, cols, key, tie):
        return None  # the row pipeline is Spark's; only bytes move here

    def sizes(self) -> dict[int, int]:
        out = {}
        for name in os.listdir(self.root):
            if name.startswith("batch_id=") and name != _JUNK:
                p = int(name.split("=", 1)[1])
                out[p] = self._layer_bytes(self.root, p)
        return out

    def put(self, layer: int, nbytes: int) -> None:
        d = os.path.join(self.root, f"batch_id={layer}")
        os.makedirs(d)
        with open(os.path.join(d, "part.bin"), "wb") as f:
            f.write(b"\0" * nbytes)

    def write(self, rows, new_gen: int, sources: list[int]) -> None:
        before = self.sizes()
        self.merges.append((list(sources), new_gen, before))
        self.put(new_gen, sum(before[p] for p in sources))

    def compact(self, cutoff: float, keep_recent: int) -> None:
        self._compact_layers(
            self.root, cutoff, keep_recent,
            cols=["id"], key=["id"], tie="id", write=self.write,
        )


@pytest.mark.parametrize(
    "seed,max_generations,merge_fanout",
    [(1, 1, 2), (2, 2, 2), (3, 2, 4), (4, 3, 2), (5, 8, 4)],
)
def test_ladder_invariants_against_model(
    tmp_path, seed, max_generations, merge_fanout
):
    rng = random.Random(seed)
    root = tmp_path / "layers"
    root.mkdir()
    (root / _JUNK).mkdir()
    (root / _JUNK / "part.bin").write_bytes(b"\0" * 7)
    lad = _ByteLadder(str(root), max_generations, merge_fanout)
    next_batch = 0
    compactions = 0
    for _ in range(160):
        if rng.random() < 0.6:
            # small sizes make equal-size ties (oldest-first) common
            lad.put(next_batch, rng.randint(1, 4))
            next_batch += 1
            continue
        before = lad.sizes()
        fresh = [p for p in before if p >= 0]
        cutoff = rng.choice([float("inf"), next_batch - rng.randint(0, 3)])
        keep = rng.randint(0, 3)
        lad.merges.clear()
        lad.compact(cutoff, keep)
        after = lad.sizes()
        assert sum(after.values()) == sum(before.values())  # bytes conserved
        below = [p for p in fresh if p < cutoff]
        entry = [p for p in below if p <= max(below) - keep] if below else []
        untouched = [p for p in fresh if p not in entry]
        for p in untouched:  # at/above the cutoff or inside keep_recent
            assert after.get(p) == before[p]
        if not entry:
            assert not lad.merges and after == before
            continue
        compactions += 1
        assert sorted(lad.merges[0][0]) == sorted(entry)  # entry merge first
        for i, (sources, new_gen, state) in enumerate(lad.merges):
            gens = [p for p in state if p < 0]
            assert new_gen == min(gens, default=0) - 1
            if i:  # cascade: the fanout smallest, ties oldest first
                assert len(gens) > max_generations
                want = sorted(gens, key=lambda g: (state[g], -g))[:merge_fanout]
                assert sources == want
        assert not set(entry) & set(after)
        assert len([p for p in after if p < 0]) <= max_generations
    assert compactions >= 10
    assert (root / _JUNK / "part.bin").stat().st_size == 7  # skipped


def test_merge_falls_back_to_layer_id_without_src(spark, tmp_path):
    """``backfill_texts`` writes generation -1 without ``src``; when the
    cascade merges it with a generation that has ``src``, its rows rank
    by their layer id, so the backfilled (oldest) text of doc 1 wins
    although the newer one sorts first, and the merged generation
    carries the resolved ``src``."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from parseable_spark.streaming import StreamingDedupIndex

    d = tmp_path / "d"
    idx = StreamingDedupIndex(
        spark, str(d), text_shards=1, compact_every=0, max_generations=1
    )
    docs = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id bigint, text string"
    )
    idx.backfill_texts(docs([(1, "zz backfill")]))
    for b, rows in enumerate([[(1, "mm 0"), (2, "zz 0")], [(2, "aa 1")]]):
        idx._write_text_rows(docs(rows).withColumn("src", F.lit(b)), b)
    # entry: batches 0, 1 -> gen -2; cascade: gens -1, -2 -> gen -3
    idx.compact_texts(keep_recent=0)
    assert sorted(
        n for n in os.listdir(d / "texts") if n.startswith("batch_id=")
    ) == ["batch_id=-3"]
    gen = pq.read_table(str(d / "texts" / "batch_id=-3")).to_pylist()
    got = {r["doc_id"]: (r["text"], r["src"]) for r in gen}
    assert got == {1: ("zz backfill", -1), 2: ("zz 0", 0)}
