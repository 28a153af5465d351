"""WriteSerializable concurrency for DELETE/UPDATE (round 12): a lost
commit race retries at the new head when every interleaved commit was a
blind append whose files hold no matching row (they commute with the
mutation — delta-spark's ConcurrentAppend rule); a matching append or
any non-append interleaving is a real conflict and raises. The race is
injected deterministically: the first _commit of the mutation lets a
rival append win the version."""

import pytest

from mack_spark.sources.delta_log import DeltaProtocolTable
from mack_spark.tables import ConcurrentModificationError


@pytest.fixture(params=["posix", "coordinated"])
def log_store(request, tmp_path):
    """Every case runs over BOTH commit stores: the POSIX O_EXCL one
    and the object-store coordinator (round 15) — the retry/conflict
    semantics must be store-independent."""
    from mack_spark.sources.log_store import (
        CoordinatedLogStore,
        PosixLogStore,
    )

    if request.param == "posix":
        return PosixLogStore()
    return CoordinatedLogStore(str(tmp_path / "coordinator"))


def _mk(spark, tmp_path, dv=False, log_store=None):
    df = spark.createDataFrame(
        [(i, f"k{i}") for i in range(10)], "pk int, attr string"
    )
    props = {"delta.enableDeletionVectors": "true"} if dv else None
    return DeltaProtocolTable.create(
        spark, str(tmp_path / "t"), df, properties=props,
        log_store=log_store,
    )


def _inject_rival(monkeypatch, spark, rival_rows):
    """Make the FIRST _commit attempt lose to a rival append."""
    orig = DeltaProtocolTable._commit
    state = {"fired": False}

    def racing(self, version, actions, snap=None):
        if not state["fired"]:
            state["fired"] = True
            rival = DeltaProtocolTable(
                spark, self.path, log_store=self.log_store
            )
            rival.append(spark.createDataFrame(
                rival_rows, "pk int, attr string"
            ))
        return orig(self, version, actions, snap=snap)

    monkeypatch.setattr(DeltaProtocolTable, "_commit", racing)
    return state


class TestConcurrentMutations:
    @pytest.mark.parametrize("dv", [False, True])
    def test_nonmatching_append_commutes(
        self, spark, tmp_path, monkeypatch, dv, log_store
    ):
        t = _mk(spark, tmp_path, dv=dv, log_store=log_store)
        state = _inject_rival(monkeypatch, spark, [(100, "new")])
        res = t.delete_where("pk < 5")
        assert state["fired"]
        got = sorted(r["pk"] for r in t.to_df().collect())
        # serial-equivalent: delete landed AND the rival row survived
        assert got == [5, 6, 7, 8, 9, 100]
        assert res["version"] == t.snapshot().version

    def test_matching_append_conflicts(
        self, spark, tmp_path, monkeypatch, log_store
    ):
        t = _mk(spark, tmp_path, log_store=log_store)
        _inject_rival(monkeypatch, spark, [(1, "dup")])  # pk 1 < 5
        with pytest.raises(ConcurrentModificationError, match="matching"):
            t.delete_where("pk < 5")

    def test_non_append_interleaving_conflicts(
        self, spark, tmp_path, monkeypatch, log_store
    ):
        t = _mk(spark, tmp_path, log_store=log_store)
        orig = DeltaProtocolTable._commit
        state = {"fired": False}

        def racing(self, version, actions, snap=None):
            if not state["fired"]:
                state["fired"] = True
                DeltaProtocolTable(
                spark, self.path, log_store=self.log_store
            ).delete_where("pk = 9")
            return orig(self, version, actions, snap=snap)

        monkeypatch.setattr(DeltaProtocolTable, "_commit", racing)
        with pytest.raises(ConcurrentModificationError, match="non-append"):
            t.delete_where("pk < 5")

    def test_update_retries_too(self, spark, tmp_path, monkeypatch, log_store):
        t = _mk(spark, tmp_path, log_store=log_store)
        state = _inject_rival(monkeypatch, spark, [(200, "zz")])
        t.update_where("pk = 3", {"attr": "'patched'"})
        assert state["fired"]
        rows = {r["pk"]: r["attr"] for r in t.to_df().collect()}
        assert rows[3] == "patched"
        assert rows[200] == "zz"

    def test_merge_commutes_with_nonmatching_append(
        self, spark, tmp_path, monkeypatch, log_store
    ):
        from mack_spark.tables import KeyedMerge

        t = _mk(spark, tmp_path, log_store=log_store)
        state = _inject_rival(monkeypatch, spark, [(500, "rival")])
        src = spark.createDataFrame(
            [(3, "merged"), (11, "inserted")], "pk int, attr string"
        )
        km = KeyedMerge(
            source=src, condition="t.pk = s.pk",
            matched_update={"attr": "s.attr"},
            not_matched_insert="*",
            target_key_col="pk", source_key_col="pk",
        )
        t.merge(km)
        assert state["fired"]
        rows = {r["pk"]: r["attr"] for r in t.to_df().collect()}
        assert rows[3] == "merged"
        assert rows[11] == "inserted"
        assert rows[500] == "rival"

    def test_merge_conflicts_with_matching_key_append(
        self, spark, tmp_path, monkeypatch, log_store
    ):
        from mack_spark.tables import KeyedMerge

        t = _mk(spark, tmp_path, log_store=log_store)
        _inject_rival(monkeypatch, spark, [(3, "rival")])  # key 3 merges
        src = spark.createDataFrame([(3, "merged")], "pk int, attr string")
        km = KeyedMerge(
            source=src, condition="t.pk = s.pk",
            matched_update={"attr": "s.attr"},
            target_key_col="pk", source_key_col="pk",
        )
        with pytest.raises(ConcurrentModificationError, match="matching"):
            t.merge(km)

    def test_insert_only_merge_retries_over_nonmatching_append(
        self, spark, tmp_path, monkeypatch, log_store
    ):
        # an insert-only MERGE reads its source keys like any MERGE: an
        # append holding none of them commutes, one holding a key the
        # merge would insert conflicts
        from mack_spark.tables import KeyedMerge

        def insert_only(rows):
            return KeyedMerge(
                source=spark.createDataFrame(rows, "pk int, attr string"),
                condition="t.pk = s.pk", not_matched_insert="*",
                target_key_col="pk", source_key_col="pk",
            )

        t = _mk(spark, tmp_path, log_store=log_store)
        state = _inject_rival(monkeypatch, spark, [(500, "rival")])
        t.merge(insert_only([(3, "dup"), (11, "inserted")]))
        assert state["fired"]
        rows = {r["pk"]: r["attr"] for r in t.to_df().collect()}
        assert (rows[3], rows[11], rows[500]) == ("k3", "inserted", "rival")
        _inject_rival(monkeypatch, spark, [(12, "rival")])
        with pytest.raises(ConcurrentModificationError, match="matching"):
            t.merge(insert_only([(12, "inserted")]))

    def test_row_tracking_append_commutes(
        self, spark, tmp_path, monkeypatch, log_store
    ):
        # a rival append on a row-tracking table also advances the
        # delta.rowTracking domain — still a blind append, still
        # commutes; ids stay unique
        df = spark.createDataFrame(
            [(i, f"k{i}") for i in range(10)], "pk int, attr string"
        )
        t = DeltaProtocolTable.create(
            spark, str(tmp_path / "t"), df,
            properties={"delta.enableRowTracking": "true"},
            log_store=log_store,
        )
        state = _inject_rival(monkeypatch, spark, [(100, "new")])
        t.delete_where("pk < 5")
        assert state["fired"]
        ids = [r["_row_id"] for r in t.to_df(with_row_ids=True).collect()]
        assert len(set(ids)) == len(ids)


class TestRewriteConflictMatrix:
    """Round 15: delta ConflictChecker refinements — mutations retry
    across DISJOINT dataChange:false rewrites, and OPTIMIZE retries
    across blind appends / disjoint removes."""

    def _mk_partitioned(self, spark, tmp_path):
        # many small files per partition so OPTIMIZE has work in each
        df = spark.createDataFrame(
            [(i, i % 2, f"k{i}") for i in range(20)],
            "pk int, part int, attr string",
        ).repartition(10)
        return DeltaProtocolTable.create(
            spark, str(tmp_path / "t"), df, partition_by=["part"]
        )

    def test_delete_commutes_with_disjoint_optimize(
        self, spark, tmp_path, monkeypatch
    ):
        """DELETE of partition 0 races an OPTIMIZE WHERE part=1:
        the rewrite's removes are disjoint from the delete's touched
        files — BOTH commit (previously the delete raised)."""
        t = self._mk_partitioned(spark, tmp_path)
        orig = DeltaProtocolTable._commit
        state = {"fired": False, "opt": None}

        def racing(self, version, actions, snap=None):
            if not state["fired"]:
                state["fired"] = True
                state["opt"] = DeltaProtocolTable(spark, self.path).optimize(
                    where="part = 1"
                )
            return orig(self, version, actions, snap=snap)

        monkeypatch.setattr(DeltaProtocolTable, "_commit", racing)
        res = t.delete_where("part = 0")
        assert state["fired"] and state["opt"]["rewritten"] > 0
        got = sorted(r["pk"] for r in t.to_df().collect())
        assert got == list(range(1, 20, 2))  # part 0 gone, part 1 intact
        assert res["version"] == t.snapshot().version

    def test_delete_conflicts_with_overlapping_optimize(
        self, spark, tmp_path, monkeypatch
    ):
        """An OPTIMIZE that compacted the same partition the DELETE
        touches rewrote the delete's input files — real conflict."""
        t = self._mk_partitioned(spark, tmp_path)
        orig = DeltaProtocolTable._commit
        state = {"fired": False}

        def racing(self, version, actions, snap=None):
            if not state["fired"]:
                state["fired"] = True
                DeltaProtocolTable(spark, self.path).optimize(
                    where="part = 0"
                )
            return orig(self, version, actions, snap=snap)

        monkeypatch.setattr(DeltaProtocolTable, "_commit", racing)
        with pytest.raises(ConcurrentModificationError, match="rewrote"):
            t.delete_where("part = 0")

    def test_optimize_retries_over_blind_append(
        self, spark, tmp_path, monkeypatch
    ):
        """Auto-compaction's race: OPTIMIZE loses the commit to a
        concurrent append and retries instead of raising."""
        t = self._mk_partitioned(spark, tmp_path)
        orig = DeltaProtocolTable._commit
        state = {"fired": False}

        def racing(self, version, actions, snap=None):
            ci = actions[0].get("commitInfo", {}) if actions else {}
            if not state["fired"] and ci.get("operation") == "OPTIMIZE":
                state["fired"] = True
                DeltaProtocolTable(spark, self.path).append(
                    spark.createDataFrame(
                        [(100, 0, "new")], "pk int, part int, attr string"
                    )
                )
            return orig(self, version, actions, snap=snap)

        monkeypatch.setattr(DeltaProtocolTable, "_commit", racing)
        res = t.optimize()
        assert state["fired"]
        assert res["rewritten"] > 0
        rows = {r["pk"] for r in t.to_df().collect()}
        assert rows == set(range(20)) | {100}  # nothing lost, append kept

    def test_optimize_conflicts_when_input_deleted(
        self, spark, tmp_path, monkeypatch
    ):
        """A concurrent DELETE removed files this OPTIMIZE compacts —
        recommitting would resurrect deleted rows; must raise."""
        t = self._mk_partitioned(spark, tmp_path)
        orig = DeltaProtocolTable._commit
        state = {"fired": False}

        def racing(self, version, actions, snap=None):
            ci = actions[0].get("commitInfo", {}) if actions else {}
            if not state["fired"] and ci.get("operation") == "OPTIMIZE":
                state["fired"] = True
                DeltaProtocolTable(spark, self.path).delete_where(
                    "part = 0"
                )
            return orig(self, version, actions, snap=snap)

        monkeypatch.setattr(DeltaProtocolTable, "_commit", racing)
        with pytest.raises(ConcurrentModificationError, match="input"):
            t.optimize()
