"""Property-based tests (hypothesis) for the pure planning math — the
invariants the reference pins with stress loops, generalized to random
inputs: packing conservation, split balance/determinism, output-file
sizing bounds."""

from hypothesis import given, settings
from hypothesis import strategies as st

from iceberg_compaction_spark.plans.packer import ListPacker
from iceberg_compaction_spark.plans.parallelism import (
    default_max_file_size,
    default_min_file_size,
    expected_output_files,
    write_max_file_size,
)
from iceberg_compaction_spark.plans.datamodel import FileScanTask
from iceberg_compaction_spark.sources.scan import split_n_vecs

weights = st.lists(st.integers(min_value=0, max_value=10**12), max_size=60)


@settings(max_examples=200, deadline=None)
@given(weights, st.integers(min_value=0, max_value=10**12), st.integers(1, 5))
def test_packer_conserves_items(ws, target, lookback):
    packer = ListPacker(target_weight=target, lookback=lookback)
    bins = packer.pack(list(enumerate(ws)), lambda it: it[1])
    flat = sorted(i for b in bins for (i, _w) in b)
    assert flat == list(range(len(ws)))  # every item exactly once
    for b in bins:
        assert b  # no empty bins


@settings(max_examples=200, deadline=None)
@given(weights, st.integers(min_value=1, max_value=10**12), st.integers(1, 5))
def test_packer_respects_target_unless_single_oversize(ws, target, lookback):
    packer = ListPacker(target_weight=target, lookback=lookback)
    for b in packer.pack_decreasing(list(enumerate(ws)), lambda it: it[1]):
        total = sum(w for (_i, w) in b)
        assert total <= target or len(b) == 1


@settings(max_examples=100, deadline=None)
@given(weights, st.integers(min_value=1, max_value=16))
def test_split_n_vecs_conserves_and_bounds(ws, n):
    tasks = [FileScanTask(data_file_path=f"/f{i}", length=w) for i, w in enumerate(ws)]
    groups = split_n_vecs(tasks, n)
    assert len(groups) == n
    flat = sorted(t.data_file_path for g in groups for t in g)
    assert flat == sorted(t.data_file_path for t in tasks)
    # balance bound for the greedy heap: max group <= min group + max item
    if ws:
        totals = [sum(t.length for t in g) for g in groups]
        assert max(totals) <= min(totals) + max(ws)


@settings(max_examples=300, deadline=None)
@given(
    st.integers(min_value=1, max_value=10**14),
    st.integers(min_value=1, max_value=2 * 10**9),
)
def test_expected_output_files_sizing_bounds(input_size, target):
    n = expected_output_files(input_size, target)
    assert n >= 1
    if input_size < target:
        assert n == 1
    else:
        # the remainder rules keep the average below write-max and above
        # half a target (ceil(input/target) can halve the average in the
        # worst case, e.g. input=7 target=6 -> 2 files of 3.5)
        avg = input_size / n
        assert avg <= write_max_file_size(target, default_max_file_size(target)) + 1
        assert avg >= target / 2


@settings(max_examples=500, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**32 - 1),
    st.integers(min_value=8, max_value=32),
    st.integers(min_value=0, max_value=6),
    st.data(),
)
def test_simhash_band_pigeonhole_guarantee(fp, bits, max_hamming, data):
    """Any fingerprint within `max_hamming` bit flips of another must
    share at least one of the max_hamming+1 disjoint bands — the
    no-false-negative guarantee simhash_banded_pairs relies on."""
    from iceberg_compaction_spark.operators.dedup import _band_layout

    fp &= (1 << bits) - 1
    n_flips = data.draw(st.integers(min_value=0, max_value=max_hamming))
    positions = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=bits - 1),
            min_size=n_flips,
            max_size=n_flips,
            unique=True,
        )
    )
    fp2 = fp
    for p in positions:
        fp2 ^= 1 << p
    layout = _band_layout(bits, max_hamming + 1)
    shared = any(
        (fp >> off) & ((1 << w) - 1) == (fp2 >> off) & ((1 << w) - 1)
        for off, w in layout
    )
    assert shared


@settings(max_examples=100, deadline=None)
@st.composite
def _manifests(draw):
    from iceberg_compaction_spark.plans.datamodel import (
        EQUALITY_DELETE,
        POSITION_DELETE,
        DeleteFile,
    )

    n = draw(st.integers(0, 5))
    tasks = []
    for i in range(n):
        deletes = []
        for j in range(draw(st.integers(0, 2))):
            eq = draw(st.booleans())
            deletes.append(
                DeleteFile(
                    path=f"/t/del{i}_{j}.parquet",
                    content=EQUALITY_DELETE if eq else POSITION_DELETE,
                    file_size_in_bytes=draw(st.integers(1, 10**9)),
                    sequence_number=draw(st.integers(0, 100)),
                    equality_ids=("id",) if eq else (),
                )
            )
        tasks.append(
            FileScanTask(
                data_file_path=f"/t/d{i}.parquet",
                length=draw(st.integers(1, 10**12)),
                record_count=draw(st.integers(0, 10**9)),
                sequence_number=draw(st.integers(0, 100)),
                partition=tuple(
                    draw(
                        st.lists(
                            st.one_of(st.integers(), st.text(max_size=5)),
                            max_size=2,
                        )
                    )
                ),
                deletes=deletes,
            )
        )
    from iceberg_compaction_spark.sources.manifest import Manifest

    return Manifest(
        table_root="/t",
        snapshot_id=draw(st.integers(0, 1000)),
        sequence_number=draw(st.integers(0, 1000)),
        schema_id=draw(st.integers(0, 10)),
        format_version=draw(st.sampled_from([2, 3])),
        data_files=tasks,
        properties=draw(
            st.dictionaries(st.text(max_size=8), st.text(max_size=8), max_size=3)
        ),
    )


def _roundtrip(m):
    from iceberg_compaction_spark.sources.manifest import Manifest

    return Manifest.from_dict(m.to_dict())


@settings(max_examples=100, deadline=None)
@given(_manifests())
def test_manifest_dict_roundtrip_exact(m):
    """The catalog wire format (to_dict/from_dict — also what the REST
    payloads carry) must round-trip every field exactly, including
    per-task delete attachments and no properties aliasing."""
    r = _roundtrip(m)
    assert r.to_dict() == m.to_dict()
    assert r.snapshot_id == m.snapshot_id
    assert r.sequence_number == m.sequence_number
    assert r.schema_id == m.schema_id
    assert r.format_version == m.format_version
    assert [t.data_file_path for t in r.data_files] == [
        t.data_file_path for t in m.data_files
    ]
    for a, b in zip(r.data_files, m.data_files):
        assert a.sequence_number == b.sequence_number
        assert a.record_count == b.record_count
        assert [(d.path, d.content, d.sequence_number) for d in a.deletes] == [
            (d.path, d.content, d.sequence_number) for d in b.deletes
        ]
    # properties must be a COPY, not an alias
    r.properties["__mut"] = "x"
    assert "__mut" not in m.properties


# ---- round 11: multi-field eq-delete scope intersection ----------------------


@settings(max_examples=300, deadline=None)
@given(
    st.lists(  # spec: (source is a key?, transform)
        st.tuples(st.booleans(), st.sampled_from(
            ["identity", "bucket[4]", "truncate[2]"]
        )),
        min_size=1,
        max_size=4,
    ),
    st.lists(st.integers(0, 50), min_size=1, max_size=20),  # batch values
    st.data(),
)
def test_eq_scope_never_skips_a_matching_file(spec_shape, batch, data):
    """Soundness of the scope INTERSECTION: any file that could hold a
    batch key's row (its recorded cell equals the transformed key value
    on EVERY keyed field) must get the delete attached — brute-force
    check against randomly generated file partition tuples."""
    from iceberg_compaction_spark.functions.transforms import (
        transform_value,
    )
    from iceberg_compaction_spark.sources.ingest import (
        _eq_attach_needed,
        _eq_delete_scope,
    )

    class Cur:
        partition_spec = [
            {
                "source": "k" if is_key else f"other{i}",
                "transform": tr,
                "name": f"f{i}",
            }
            for i, (is_key, tr) in enumerate(spec_shape)
        ]

    scope = _eq_delete_scope(Cur(), ["k"], lambda col: list(batch))
    n = len(spec_shape)

    class T:
        spec_id = 0

        def __init__(self, part):
            self.partition = part

    # files whose cells COME FROM a batch value on keyed fields must
    # attach; cells from a non-batch value may be skipped
    for v in batch + [99, 77]:  # 99/77 are outside the 0..50 batch range
        cells = []
        for is_key, tr in spec_shape:
            src = v if is_key else data.draw(st.integers(0, 5))
            cells.append(transform_value(tr, src) if tr != "identity" else src)
        t = T(tuple(cells))
        needed = scope is None or _eq_attach_needed(t, 0, *scope)
        if v in batch:
            assert needed, (spec_shape, batch, v, cells, scope)
        # (v not in batch may still attach — conservative is allowed)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 5),              # key
            st.sampled_from(["insert", "delete"]),
            st.integers(10, 12),            # commit
        ),
        max_size=25,
    )
)
def test_pair_update_images_invariants(spark, rows):
    """Pairing is a pure RE-TAGGING: row count and per-key multiset of
    payloads are preserved; a (commit, key) gets update_* iff it has
    BOTH an insert and a delete; tags never mix within one side.
    (The session-scoped spark fixture composes with @given.)"""
    from iceberg_compaction_spark.sources import changes as ch

    df = spark.createDataFrame(
        [(k, t, c) for (k, t, c) in rows] or [(0, "insert", 0)],
        ["id", ch.CHANGE_TYPE, "_commit_snapshot_id"],
    )
    out = ch.pair_update_images(df, keys=["id"]).collect()
    src = df.collect()
    assert len(out) == len(src)
    both = {
        (r["_commit_snapshot_id"], r["id"])
        for r in src
    }
    def kinds(rs, cid, k):
        return {
            r[ch.CHANGE_TYPE]
            for r in rs
            if r["_commit_snapshot_id"] == cid and r["id"] == k
        }
    for (cid, k) in both:
        before = kinds(src, cid, k)
        after = kinds(out, cid, k)
        if before == {"insert", "delete"}:
            assert after == {"update_after", "update_before"}
        else:
            assert after == before  # unpaired rows keep their tags


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_manifest_rewrite_copy_conserves_live_entries(data):
    """rewrite_manifests' copy/merge core (round 12): for ANY mix of
    small manifests — random entry counts, ADDED/EXISTING/DELETED
    statuses, null-or-explicit sequence numbers — the merged output
    conserves exactly the live entries (path, seq, snapshot, rows),
    makes every copy EXISTING with EXPLICIT sequence numbers (v2
    inheritance resolved), and the new list entries' counts add up."""
    import os
    import shutil
    import tempfile

    from iceberg_compaction_spark.sources.avro_io import (
        read_avro_file,
        write_avro_file,
    )
    from iceberg_compaction_spark.sources.fileio import fileio_for
    from iceberg_compaction_spark.sources.iceberg_meta import (
        _MANIFEST_ENTRY_SCHEMA,
    )
    from iceberg_compaction_spark.sources.manifest_rewrite import (
        _copy_live_entries,
        _write_merged,
    )

    tmp = tempfile.mkdtemp(prefix="mrw-prop-")
    try:
        n_manifests = data.draw(st.integers(2, 5), label="n_manifests")
        mfs = []
        expected_live = []
        fcounter = 0
        for mi in range(n_manifests):
            mf_seq = data.draw(st.integers(1, 50), label=f"mfseq{mi}")
            mf_sid = data.draw(st.integers(1, 99), label=f"mfsid{mi}")
            entries = []
            for _ in range(data.draw(st.integers(1, 5))):
                fcounter += 1
                status = data.draw(
                    st.sampled_from([0, 1, 1, 2])  # DELETED sometimes
                )
                seq = data.draw(
                    st.one_of(st.none(), st.integers(1, 50))
                )
                sid = data.draw(
                    st.one_of(st.none(), st.integers(1, 99))
                )
                rows = data.draw(st.integers(0, 1000))
                entries.append(
                    {
                        "status": status,
                        "snapshot_id": sid,
                        "sequence_number": seq,
                        "file_sequence_number": None,
                        "data_file": {
                            "content": 0,
                            "file_path": f"file:///d{fcounter}.parquet",
                            "file_format": "PARQUET",
                            "partition": {},
                            "record_count": rows,
                            "file_size_in_bytes": 10,
                            "null_value_counts": None,
                            "lower_bounds": None,
                            "upper_bounds": None,
                            "equality_ids": None,
                        },
                    }
                )
                if status != 2:
                    expected_live.append(
                        (
                            f"file:///d{fcounter}.parquet",
                            seq if seq is not None else mf_seq,
                            sid if sid is not None else mf_sid,
                            rows,
                        )
                    )
            p = os.path.join(tmp, f"m{mi}.avro")
            write_avro_file(
                p, _MANIFEST_ENTRY_SCHEMA, entries,
                metadata={"format-version": "2", "content": "data"},
            )
            mfs.append(
                {
                    "manifest_path": p,
                    "manifest_length": os.path.getsize(p),
                    "partition_spec_id": 0,
                    "content": 0,
                    "sequence_number": mf_seq,
                    "added_snapshot_id": mf_sid,
                }
            )
        subgroups = _copy_live_entries(mfs)
        assert len(subgroups) == 1  # one writer schema -> one sub-group
        schema, live, src, src_mfs = subgroups[0]
        assert len(src_mfs) == n_manifests
        got = sorted(
            (
                e["data_file"]["file_path"],
                e["sequence_number"],
                e["snapshot_id"],
                e["data_file"]["record_count"],
            )
            for e in live
        )
        assert got == sorted(expected_live)
        assert all(e["status"] == 0 for e in live)  # EXISTING
        assert all(e["sequence_number"] is not None for e in live)
        if not live:
            return
        target = data.draw(st.integers(1, 4 * max(1, src)))
        merged = _write_merged(
            tmp, fileio_for(tmp), (0, 0), schema, live, src, target, 7
        )
        rt = []
        for m in merged:
            path = m["manifest_path"].replace("file://", "")
            _, es = read_avro_file(path)
            rt.extend(
                (
                    e["data_file"]["file_path"],
                    e["sequence_number"],
                    e["snapshot_id"],
                    e["data_file"]["record_count"],
                )
                for e in es
            )
            assert m["existing_files_count"] == len(es)
            assert m["added_files_count"] == 0
            seqs = [e["sequence_number"] for e in es]
            assert m["min_sequence_number"] == min(seqs)
            assert m["sequence_number"] == max(seqs)
        assert sorted(rt) == sorted(expected_live)  # exact conservation
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
