"""The benchmark's workloads.

Each workload prepares its inputs once (:meth:`Workload.setup`, not
timed), then runs as a closed loop: :meth:`Workload.run` is one complete
job from input to result, :meth:`Workload.check` verifies that result
(not timed) and :meth:`Workload.reset` puts any state the job changed
back to how set-up left it (not timed).  ``run`` calls the layers'
public functions directly and opens one span per layer call; with the
:class:`~perfbench.spans.NullTracer` the spans cost nothing.
"""

from __future__ import annotations

import os
import re
import shutil

import duckdb
import numpy as np

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from perfbench import inputs
from tagminder_spark.cache import cache_scope


class Workload:
    name = ""

    def __init__(self, spark: SparkSession, scratch: str, seed: int,
                 sf: float):
        self.spark = spark
        self.scratch = scratch
        self.seed = seed
        self.sf = sf
        self.input_dir = os.path.join(scratch, "input")
        #: rows the job consumes, the base of ``rows_per_s``
        self.input_rows = 0

    def setup(self) -> None:
        raise NotImplementedError

    def run(self, tracer):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        raise NotImplementedError

    def reset(self) -> None:
        pass

    def _oracle(self, sql: str, views: dict[str, str]) -> tuple[list, list]:
        """Run a DuckDB oracle over parquet files; (column names, rows)."""
        con = duckdb.connect()
        try:
            for name, path in views.items():
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
                )
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            return cols, cur.fetchall()
        finally:
            con.close()


# ---------------------------------------------------------------------------
# contributor_resolution
# ---------------------------------------------------------------------------

def _name_id(row_id: str) -> int:
    """Numeric id of a merged contributor row: mb ids even, amg ids odd."""
    src, _, k = row_id.partition(":")
    return 2 * int(k) + (0 if src == "mb" else 1)


def _norm_name(s: str | None) -> str | None:
    if s is None:
        return None
    s = re.sub(r"\s+", " ", s).strip().lower()
    return s or None


def _name_text(name: str) -> str:
    """Words with every digit a token of its own, so the dedupe's word
    3-grams pair a name with the names that extend its number
    ('zed 12' and 'zed 123')."""
    return re.sub(r"\s+", " ", re.sub(r"(\d)", r" \1 ", name)).strip()


def _min_label_closure(pairs) -> dict[int, int]:
    """node → smallest node id reachable through ``pairs``."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


class ContributorResolution(Workload):
    """The MDM harvest: the 5-phase contributor ER merge over the
    orders-derived MusicBrainz/Wikidata/AllMusic sources, MinHash-LSH
    namesake pairs over the merged normalized names, and connected
    components grouping them into clusters."""

    name = "contributor_resolution"

    def setup(self) -> None:
        from tagminder_spark.queries import dedup, er_q

        inputs.write_tables(self.input_dir, self.sf, self.seed)
        self.src_dirs = {}
        n = 0
        for name, df in zip(("mb", "wd", "amg"),
                            er_q._fixture(self.spark, self.input_dir)):
            path = os.path.join(self.scratch, name)
            df.write.parquet(path)
            self.src_dirs[name] = path
            n += self.spark.read.parquet(path).count()
        self.input_rows = n
        self.lsh = {"n": 3, "k": dedup._K, "bands": dedup._BANDS,
                    "threshold": 0.5}

        cols, rows = self._oracle(
            er_q.REGISTRY["er_five_phase"][1],
            {"orders": f"{self.input_dir}/orders.parquet"},
        )
        self.merge_cols = cols
        self.expected_merge = sorted(_cells(r) for r in rows)
        # the dedupe oracle runs over the names the oracle merge yields
        ix = {c: i for i, c in enumerate(cols)}
        names: dict[str, int] = {}
        for r in rows:
            nm = _norm_name(
                r[ix["musicbrainz_name"]] or r[ix["wikimedia_name"]]
                or r[ix["allmusic_name"]]
            )
            if nm is not None:
                i = _name_id(r[ix["contributor_row_id"]])
                names[nm] = min(i, names.get(nm, i))
        docs = os.path.join(self.scratch, "names.parquet")
        pq.write_table(pa.table({
            "doc_id": list(names.values()),
            "text": [_name_text(n) for n in names],
        }), docs)
        _, pairs = self._oracle(
            dedup.REGISTRY["d_minhash_lsh"][1], {"documents": docs}
        )
        self.expected_pairs = sorted((int(a), int(b)) for a, b, _ in pairs)

    def run(self, tracer):
        from tagminder_spark.operators.components import connected_components
        from tagminder_spark.operators.dedupe import minhash_lsh_pairs
        from tagminder_spark.operators.er_merge import contributors_merge

        read = self.spark.read.parquet
        with cache_scope(self.spark):
            mb, wd, amg = (read(self.src_dirs[s]) for s in ("mb", "wd", "amg"))
            with tracer.span("operators.er_merge") as sp:
                merged = tracer.boundary(sp, contributors_merge(mb, wd, amg))
                merged_rows = merged.select(*self.merge_cols).collect()
            with tracer.span("operators.dedupe") as sp:
                name_n = F.lower(F.trim(F.regexp_replace(
                    F.coalesce("musicbrainz_name", "wikimedia_name",
                               "allmusic_name"), r"\s+", " ")))
                row_id = F.col("contributor_row_id")
                nid = (
                    F.substring_index(row_id, ":", -1).cast("long") * 2
                    + F.when(row_id.startswith("mb:"), 0).otherwise(1)
                )
                names = (
                    merged.select(name_n.alias("name"), nid.alias("id"))
                    .where(F.col("name") != "")
                    .groupBy("name")
                    .agg(F.min("id").alias("id"))
                    .select("id", F.trim(F.regexp_replace(
                        F.regexp_replace("name", r"(\d)", " $1 "), r"\s+", " ")
                    ).alias("text"))
                )
                pairs = tracer.boundary(
                    sp, minhash_lsh_pairs(names, "id", "text", **self.lsh)
                    .select("id_a", "id_b"))
                pair_rows = pairs.collect()
            with tracer.span("operators.components") as sp:
                cc = connected_components(pairs, max_iter=50,
                                          require_convergence=True)
                cc_rows = cc.collect()
                sp.rows_out += len(cc_rows)
        return (
            [_cells(r) for r in merged_rows],
            [(r["id_a"], r["id_b"]) for r in pair_rows],
            {r["node"]: r["component"] for r in cc_rows},
        )

    def check(self, result) -> list[str]:
        merged, pairs, clusters = result
        errors = []
        if sorted(merged) != self.expected_merge:
            errors.append(
                f"ER merge differs from the er_five_phase oracle "
                f"({len(merged)} vs {len(self.expected_merge)} rows)"
            )
        if sorted(pairs) != self.expected_pairs:
            errors.append(
                f"LSH pairs differ from the d_minhash_lsh oracle "
                f"({len(pairs)} vs {len(self.expected_pairs)})"
            )
        for a, b in pairs:
            if clusters.get(a) is None or clusters.get(a) != clusters.get(b):
                errors.append(f"pair ({a}, {b}) split across clusters")
                break
        members: dict[int, int] = {}
        for node, comp in clusters.items():
            members[comp] = min(node, members.get(comp, node))
        if any(members[c] != c for c in members):
            errors.append("a cluster id is not its smallest member id")
        if clusters != _min_label_closure(pairs):
            errors.append("clusters are not the transitive closure of the pairs")
        return errors


def _cells(row) -> tuple:
    return tuple(None if v is None else str(v) for v in row)


# ---------------------------------------------------------------------------
# library_ingest_commit
# ---------------------------------------------------------------------------

_EXTS = (".mp3", ".flac", ".ogg", ".m4a", ".aiff", ".wma", ".ape", ".wv")
_FILETYPES = ("mp3", "flac", "ogg", "mp4", "aiff", "asf", "ape", "wavpack")
_GENRES = ("Rock", "Ambient", "Electronic", "Jazz", "Blues", "Classical",
           "Folk", "Techno")
#: tag columns that round-trip exactly through every container family
KEEP = ["title", "artist", "album", "composer", "genre", "track", "year"]
PIVOT = KEEP + ["writer", "arranger", "lyricist"]
TABLE_COLS = ["__path", "__dirpath", "__filetype", "__length_seconds", *PIVOT,
              "__sqlmodded"]
#: columns steps 02 and 20 may change, compared by the diff-audit
TRACKED = ["title", "album", "composer", "year"]


def _container(fam: int, tags: dict[str, str], seconds: int) -> bytes:
    from tagminder_spark.sources.audiotags import synth

    if fam == 0:
        return synth.build_mp3_with_xing(tags, xing_frames=seconds * 38)
    if fam == 1:
        return synth.build_flac(44100 * seconds, list(tags.items()),
                                audio_bytes=64)
    if fam == 2:
        return synth.build_ogg_vorbis(list(tags.items()), 44100 * seconds)
    builders = {3: synth.build_m4a, 4: synth.build_aiff, 5: synth.build_asf,
                6: synth.build_ape, 7: synth.build_wavpack}
    return builders[fam](tags, seconds)


def tree_bytes(root: str) -> tuple[int, dict[str, int]]:
    """(total bytes, relpath → size) of every file under ``root``."""
    sizes: dict[str, int] = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            sizes[os.path.relpath(p, root)] = os.path.getsize(p)
    return sum(sizes.values()), sizes


class IngestCommit(Workload):
    """An incremental cycle on a versioned alib: a batch of real container
    files is scanned, parsed, cleaned by steps 02+20, diff-audited, merged
    into the manifest-versioned table with its changelog, written back to
    the files, and old snapshots expired."""

    name = "library_ingest_commit"

    def setup(self) -> None:
        from tagminder_spark.operators.table_manifest import init_manifest

        s = self.scratch
        self.lib = os.path.join(s, "library")
        self.table = os.path.join(s, "alib")
        self.clog = os.path.join(s, "changelog")
        self.pristine = os.path.join(s, "alib.pristine")

        def path_of(ok: int, ln: int) -> tuple[str, int]:
            fam = (ok * 7 + ln) % 8
            return f"{self.lib}/a{ok % 50:02d}/p{ok:07d}-{ln}{_EXTS[fam]}", fam

        base, fresh = inputs.line_pairs(self.sf, self.seed)
        rows = []
        for ok, ln in base:
            path, fam = path_of(ok, ln)
            rows.append({
                "__path": path, "__dirpath": path.rsplit("/", 1)[0],
                "__filetype": _FILETYPES[fam],
                "__length_seconds": str(30 + ok % 200),
                "title": f"Song {ok}", "artist": f"Artist {ok % 7}",
                "album": f"Album {ok % 13}", "composer": f"Comp {ok % 11}",
                "genre": _GENRES[fam], "track": str(ln), "year": "1987",
                "writer": None, "arranger": None, "lyricist": None,
            })
        rows.sort(key=lambda r: r["__path"])
        schema = pa.schema(
            [(c, pa.string()) for c in TABLE_COLS[:-1]]
            + [("__sqlmodded", pa.int16())]
        )
        tbl = pa.Table.from_pylist(
            [{**r, "__sqlmodded": 0} for r in rows], schema=schema
        )
        os.makedirs(self.table)
        n_files = 16
        step = -(-tbl.num_rows // n_files)
        for i in range(n_files):
            pq.write_table(tbl.slice(i * step, step),
                           f"{self.table}/part-{i:05d}-base.snappy.parquet")
        # 64-char bounds: path keys share a long prefix (as in
        # merge_into_manifest, whose output files use the same length)
        init_manifest(self.spark, self.table, stats_cols=("__path",),
                      string_bound_len=64)
        shutil.copytree(self.table, self.pristine)
        self.n_base = tbl.num_rows
        _, self.pristine_files = tree_bytes(self.table)

        # the batch: half existing paths with edited tags, half new paths
        # (keys the sample left out), both spread over the key range.  The
        # seed picks the keys; the work stays fixed: every family gets the
        # same number of existing and new files, and the dirty shapes and
        # audio lengths follow the pick order
        rng = np.random.default_rng(self.seed + 1)
        per_family = max(2, round(3_000 * self.sf))
        self.files: dict[str, bytes] = {}
        for kind, pool in (("old", base), ("new", fresh)):
            for fam in range(8):
                cand = [p for p in pool if path_of(*p)[1] == fam]
                picks = rng.choice(len(cand), per_family, replace=False)
                for j, i in enumerate(sorted(picks.tolist())):
                    ok, ln = cand[i]
                    tags = {
                        # trailing blanks for step 02, a slashed date for 20
                        "title": f"Song {ok}" + ("   " if j % 3 == 0 else ""),
                        "artist": f"Artist {ok % 7}",
                        "album": f"Album {ok % 13}"
                                 + (" (Remaster)" if kind == "old" else ""),
                        "composer": f"Comp {ok % 11}"
                                    + ("  " if j % 2 else ""),
                        "genre": _GENRES[fam],
                        "track": str(ln),
                        "year": "1999/03/07" if j % 4 == 1 else "1987",
                    }
                    self.files[path_of(ok, ln)[0]] = _container(
                        fam, tags, 30 + 13 * j % 200)
        self.n_new = 8 * per_family
        self.input_rows = len(self.files)
        self._write_files()
        self.batch_parquet_bytes = 0

    def _write_files(self) -> None:
        for path, data in self.files.items():
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as fh:
                fh.write(data)

    def reset(self) -> None:
        shutil.rmtree(self.table)
        shutil.copytree(self.pristine, self.table)
        shutil.rmtree(self.clog, ignore_errors=True)
        self._write_files()

    def run(self, tracer):
        from tagminder_spark.operators.diff_audit import diff_audit
        from tagminder_spark.operators.table_manifest import (
            append_files,
            expire_snapshots,
            merge_into_manifest,
            read_manifest,
            snapshot_read,
        )
        from tagminder_spark.pipeline import step02_clean_text, step20_dates
        from tagminder_spark.sources.catalog import (
            parse_tags,
            scan_files,
            tags_to_columns,
        )
        from tagminder_spark.sources.export import export_projection, export_tags

        spark = self.spark
        with cache_scope(spark):
            with tracer.span("sources.catalog") as sp:
                scanned = scan_files(spark, self.lib).select("path")
                batch = (
                    tags_to_columns(parse_tags(scanned), PIVOT)
                    .withColumn("__dirpath",
                                F.regexp_replace("__path", "/[^/]+$", ""))
                    .withColumn("__sqlmodded", F.lit(0).cast("smallint"))
                    .select(*TABLE_COLS)
                )
                batch = tracer.boundary(sp, batch)
                sp.extra["files"] = sp.rows_out
            with tracer.span("pipeline") as sp:
                cleaned = tracer.boundary(
                    sp, step20_dates(step02_clean_text(batch)))
            with tracer.span("operators.diff_audit") as sp:
                updated, changelog = diff_audit(
                    batch, cleaned, "__path", TRACKED, script="ingest"
                )
                updated = tracer.boundary(sp, updated)
                changelog = tracer.boundary(sp, changelog)
                updated_rows = updated.select(
                    "__path", "__sqlmodded", *KEEP).collect()
                increments = sum(r["__sqlmodded"] for r in updated_rows)
                sp.extra["changed_ratio"] = increments / (
                    self.input_rows * len(TRACKED)
                )
            merge_rows = updated.unionByName(
                cleaned.join(updated.select("__path"), "__path", "left_anti")
            )
            with tracer.span("operators.table_manifest") as sp:
                pinned = snapshot_read(spark, self.table, 1)
                info = merge_into_manifest(spark, self.table, merge_rows,
                                           "__path")
                append_files(spark, changelog, self.clog, partition_col=None)
                sp.rows_out += self.input_rows + increments
                sp.extra["files_rewritten"] = info["files_rewritten"]
                sp.extra["files_carried"] = (
                    info["files_rewritten"] + info["files_untouched"]
                )
            written = tree_bytes(self.clog)[0] + sum(
                size for rel, size in tree_bytes(self.table)[1].items()
                if rel not in self.pristine_files
            )
            n_pinned = pinned.count()
            with tracer.span("sources.export") as sp:
                export_tags(export_projection(updated, KEEP))
                sp.rows_out += len(updated_rows)
            with tracer.span("operators.table_manifest") as sp:
                expire_snapshots(spark, self.table, keep_last=1)
                disk = tree_bytes(self.table)[0]
                live = sum(size for _, size in
                           read_manifest(spark, self.table)["files"])
                sp.extra["bytes_written"] = written
                sp.extra["space_amp"] = disk / live
        return {
            "n_pinned": n_pinned,
            "updated": [r.asDict() for r in updated_rows],
            "increments": increments,
        }

    def check(self, result) -> list[str]:
        from tagminder_spark.operators.table_manifest import snapshot_read
        from tagminder_spark.sources.audiotags import parse_audio

        errors = []
        if result["n_pinned"] != self.n_base:
            errors.append(f"base-pinned reader saw {result['n_pinned']} rows, "
                          f"not {self.n_base}")
        final = snapshot_read(self.spark, self.table)
        n_final = final.count()
        if n_final != self.n_base + self.n_new:
            errors.append(f"final rows {n_final} != base {self.n_base} + "
                          f"new {self.n_new}")
        n_clog = snapshot_read(self.spark, self.clog).count()
        if n_clog != result["increments"] or n_clog == 0:
            errors.append(f"changelog rows {n_clog} != sum of __sqlmodded "
                          f"increments {result['increments']}")
        exported = {r["__path"] for r in result["updated"]}
        committed = {
            r["__path"]: r.asDict()
            for r in final.where(F.col("__path").isin(list(exported)))
            .select("__path", *KEEP).collect()
        }
        for path in sorted(exported):
            with open(path, "rb") as fh:
                tags = parse_audio(path, fh.read()) or {}
            want = committed.get(path, {})
            bad = [c for c in KEEP if tags.get(c) != want.get(c)]
            if bad:
                errors.append(f"{path}: re-parsed {bad} differ from the table")
                break
        if not self.batch_parquet_bytes:
            # the write-amplification base: the batch's rows alone as parquet
            out = os.path.join(self.scratch, "batch.parquet")
            final.where(F.col("__path").isin(list(self.files))).write.parquet(out)
            self.batch_parquet_bytes = tree_bytes(out)[0]
            shutil.rmtree(out)
        return errors


WORKLOADS = {w.name: w for w in (IngestCommit, ContributorResolution)}
