"""``provision``: reconcile desired identity and directory catalogs into
per-cluster state, three passes per cluster.

Passes: ``create`` (fresh state holding only seeded foreign identities,
whose uids/gids collide with the allocation range), ``rerun`` (must be
a no-op) and ``drift-repair`` (run after the benchmark deletes a seeded
share of the state rows with pyarrow; must restore exactly those keys,
allocating fresh ids around the taken ones). The unit op is one pass:
``create_users`` with its replay script, then ``create_directories``.
Driver-bound: dozens of small Spark jobs per op.

Timed: each cluster's ``rerun`` and ``drift-repair``. Its ``create``
pass runs untimed first (checked like any pass); cluster 0's is the
warmup. One pass on a fresh JVM costs ~19 s and the run budget holds
two more, not three.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from core import tree_size

TIMED_PASSES = ("rerun", "drift-repair")
CLUSTERS = 12  # cluster 0 is the warmup cluster
SCRIPT_HEADER_LINES = 3
KEYS = {
    "groups": ("group_name",),
    "users": ("user_name",),
    "memberships": ("user_name", "group_name"),
    "proxy_users": ("proxy_name", "member_name", "member_type"),
    "directories": ("path",),
}


def _read(state_root: str, table: str) -> list[dict]:
    path = os.path.join(state_root, table)
    if not os.path.isdir(path):
        return []
    return pq.read_table(path).to_pylist()


def _rewrite(state_root: str, table: str, rows: list[dict], schema: pa.Schema) -> None:
    """Replace a state table's files with one pyarrow-written file."""
    path = os.path.join(state_root, table)
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), os.path.join(path, "part-00000-drift.parquet"))


def _key(table: str, row: dict) -> tuple:
    return tuple(row[k] for k in KEYS[table])


class Provision:
    name = "provision"
    cycle = len(TIMED_PASSES)  # the timed loop ends on a cluster boundary

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.tracer = spark, work, tracer
        self.specs = gen.cluster_specs(seed, CLUSTERS)
        self.desired = [gen.desired_catalog(s) for s in self.specs]
        self.input_bytes: dict[int, int] = {}
        self.snapshots: dict[int, dict] = {}
        self.deleted: dict[int, dict] = {}
        self.touched: set[int] = set()
        self.next_op = 0

    def describe(self) -> str:
        return (
            f"clusters of {'/'.join(gen.DISTS)} catalogs (dist cycling by index), untimed create "
            f"then timed rerun and drift-repair; ~{gen.catalog_items(self.desired[0])} desired rows per pass"
        )

    # ------------------------------------------------------------ inputs

    def _root(self, i: int) -> str:
        return os.path.join(self.work, f"cluster{i:02d}")

    def generate(self) -> None:
        """Per cluster: the seeded foreign identities as pre-existing
        state, plus the cluster spec (dist, zone, suffix) as JSON."""
        for spec in self.specs:
            i = spec["index"]
            root = os.path.join(self._root(i), "state")
            os.makedirs(os.path.join(root, "groups"))
            os.makedirs(os.path.join(root, "users"))
            size = gen.write_parquet(
                os.path.join(root, "groups", "part-00000-seed.parquet"),
                {
                    "group_name": [g for g, _ in spec["foreign_groups"]],
                    "gid": [gid for _, gid in spec["foreign_groups"]],
                },
                {"group_name": pa.string(), "gid": pa.int32()},
            )
            size += gen.write_parquet(
                os.path.join(root, "users", "part-00000-seed.parquet"),
                {
                    "user_name": [u for u, _, _ in spec["foreign_users"]],
                    "uid": [uid for _, uid, _ in spec["foreign_users"]],
                    "primary_group": [p for _, _, p in spec["foreign_users"]],
                },
                {"user_name": pa.string(), "uid": pa.int32(), "primary_group": pa.string()},
            )
            spec_path = os.path.join(self._root(i), "spec.json")
            with open(spec_path, "w", encoding="utf-8") as fh:
                json.dump(spec, fh)
            self.input_bytes[i] = size + os.path.getsize(spec_path)

    # --------------------------------------------------------------- ops

    def warmup(self) -> list[str]:
        """Cluster 0's create pass, untimed; returns its check's problems."""
        self._run(0)
        return self._check(0, "create", None)[0]

    def next(self):
        """The next timed op as (prepare, run, check) callables. Cluster
        c's ops are its rerun and drift-repair; for c > 0 the rerun's
        prepare runs the cluster's create pass first."""
        k = self.next_op
        self.next_op += 1
        cluster, p = k // len(TIMED_PASSES), TIMED_PASSES[k % len(TIMED_PASSES)]
        if cluster >= CLUSTERS:
            raise RuntimeError("ran out of generated clusters; raise CLUSTERS")
        self.touched.add(cluster)
        create_problems: list[str] = []

        def prepare():
            if p == "rerun" and cluster > 0:
                self._run(cluster)
                create_problems.extend(self._check(cluster, "create", None)[0])
            if p == "drift-repair":
                self._drift(cluster)

        def check(op_start):
            problems, items = self._check(cluster, p, op_start)
            return create_problems + problems, items

        return prepare, lambda: self._run(cluster), check

    def _run(self, i: int) -> None:
        from isilon_hadoop_tools_spark import scripts
        from isilon_hadoop_tools_spark.plans.state import ParquetState

        spec = self.specs[i]
        state = ParquetState(self.spark, os.path.join(self._root(i), "state"))
        with self.tracer.span("scripts.create_users"):
            scripts.create_users(
                self.spark, state, spec["dist"], zone=spec["zone"],
                append_cluster_name=spec["suffix"],
                script_path=os.path.join(self._root(i), "replay.sh"),
            )
        with self.tracer.span("scripts.create_directories"):
            scripts.create_directories(
                self.spark, state, spec["dist"], zone_path=f"/ifs/{spec['zone']}",
                append_cluster_name=spec["suffix"],
            )

    def _drift(self, i: int) -> None:
        """Delete a seeded share of the engine-created rows of every
        table except proxy_users; remember the deleted keys."""
        spec = self.specs[i]
        r = gen.rng(spec["drift_seed"], "drift")
        root = os.path.join(self._root(i), "state")
        foreign = {g for g, _ in spec["foreign_groups"]} | {u for u, _, _ in spec["foreign_users"]}
        deleted = {}
        for table in ("groups", "users", "memberships", "directories"):
            path = os.path.join(root, table)
            tbl = pq.read_table(path)
            rows = tbl.to_pylist()
            own = [k for k, row in enumerate(rows) if _key(table, row)[0] not in foreign]
            drop = set(r.sample(own, max(1, int(len(own) * spec["drift_share"]))))
            deleted[table] = {_key(table, rows[k]) for k in drop}
            _rewrite(root, table, [row for k, row in enumerate(rows) if k not in drop], tbl.schema)
        self.deleted[i] = deleted

    # ------------------------------------------------------------ checks

    def _check(self, i: int, p: str, op_start) -> tuple[list[str], int]:
        """Output checks for one pass; returns (problems, items)."""
        spec, want = self.specs[i], self.desired[i]
        root = os.path.join(self._root(i), "state")
        tables = {t: _read(root, t) for t in KEYS}
        problems: list[str] = []
        fg = dict(spec["foreign_groups"])
        fu = {u: (uid, pg) for u, uid, pg in spec["foreign_users"]}

        def expect(cond: bool, what: str) -> None:
            if not cond:
                problems.append(f"{self.name} cluster {i} {p}: {what}")

        groups = {row["group_name"]: row["gid"] for row in tables["groups"]}
        users = {row["user_name"]: (row["uid"], row["primary_group"]) for row in tables["users"]}
        expect(len(groups) == len(tables["groups"]), "duplicate group names")
        expect(len(users) == len(tables["users"]), "duplicate user names")
        expect(set(groups) == want["groups"] | set(fg), "group names differ from desired + foreign")
        expect(set(users) == {u for u, _ in want["users"]} | set(fu), "user names differ")
        expect(len(set(groups.values())) == len(groups), "gids not unique")
        expect(len({uid for uid, _ in users.values()}) == len(users), "uids not unique")
        expect(all(groups[g] == gid for g, gid in fg.items() if g in groups), "foreign gid moved")
        expect(all(users[u] == v for u, v in fu.items() if u in users), "foreign user changed")
        expect(min(groups.values()) >= gen.START_ID and min(u for u, _ in users.values()) >= gen.START_ID,
               "id below start")
        expect({(u, pg) for u, (_, pg) in users.items() if u not in fu} == want["users"],
               "primary groups differ")
        expect(all(pg in groups for _, pg in users.values()), "primary-group foreign key broken")
        members = [(r["user_name"], r["group_name"]) for r in tables["memberships"]]
        expect(len(members) == len(set(members)) and set(members) == want["memberships"],
               "memberships differ")
        expect(all(u in users and g in groups for u, g in members), "membership foreign key broken")
        proxies = [tuple(r[k] for k in KEYS["proxy_users"]) for r in tables["proxy_users"]]
        expect(len(proxies) == len(set(proxies)) and set(proxies) == want["proxy_users"],
               "proxy users differ")
        dirs = [(r["path"], r["owner"], r["group"], r["mode"]) for r in tables["directories"]]
        expect(len(dirs) == len(set(dirs)) and set(dirs) == want["directories"], "directories differ")
        with open(os.path.join(self._root(i), "replay.sh"), encoding="utf-8") as fh:
            n_lines = sum(1 for _ in fh)
        expect(n_lines == SCRIPT_HEADER_LINES + len(groups) + len(users) + len(members),
               f"script has {n_lines} lines")

        snapshot = {t: sorted(tuple(sorted(r.items())) for r in rows) for t, rows in tables.items()}
        if p == "create":
            self.snapshots[i] = snapshot
        elif p == "rerun":
            expect(snapshot == self.snapshots.get(i), "rerun changed the state")
        else:
            for table, gone in self.deleted[i].items():
                keys = {_key(table, r) for r in tables[table]}
                before = {tuple(dict(r)[k] for k in KEYS[table]) for r in self.snapshots[i][table]}
                expect(keys == before and gone <= keys, f"{table} keys not restored exactly")
            # ids the re-created rows had to skip: taken ids below the
            # highest one they were given
            collisions = 0
            uids = {u: uid for u, (uid, _) in users.items()}
            for id_of, table in ((groups, "groups"), (uids, "users")):
                gone = {k for (k,) in self.deleted[i][table]}
                top = max(id_of[k] for k in gone)
                collisions += sum(1 for k, v in id_of.items() if k not in gone and v < top)
            if op_start is not None:
                self.tracer.count("operators.allocate_ids.collisions", collisions, at=op_start)
        return problems, gen.catalog_items(want)

    # ------------------------------------------------------------ totals

    def stored_bytes(self) -> int:
        """State tables and replay scripts of the timed clusters."""
        return sum(
            tree_size(os.path.join(self._root(i), "state"))[1]
            + os.path.getsize(os.path.join(self._root(i), "replay.sh"))
            for i in self.touched
        )

    def consumed_input_bytes(self) -> int:
        return sum(self.input_bytes[i] for i in self.touched)

    def final_check(self) -> list[str]:
        return []
