"""update_lifecycle: `cli update` over seeded NDJSON dumps, the lake's one
write path. The cold pass is a full update into an empty work directory;
each warm pass first replaces one file per source with new values of the
same papers and row count, so every pass ingests, compacts, unifies,
dedups full text and runs the sanity suite over the same data volume."""

from __future__ import annotations

import contextlib
import io
import os
import random
import re
import shutil

from perfbench import common, fixtures

_REPORT = re.compile(r"^(\w+): (\d+) rows( staged)?$")


class Lifecycle:
    #: engine modules a `cli update` process imports
    MODULES = ("science_datalake_spark.cli", "science_datalake_spark.pipeline")

    def __init__(self, seed: int, cache: str, code: str) -> None:
        self.seed = seed
        self.inputs = os.path.join(cache, "inputs", f"lifecycle-seed{seed}-{code}")
        self.run_dir = os.path.join(cache, "run", "lifecycle")
        self.src = os.path.join(self.run_dir, "src")
        self.work = os.path.join(self.run_dir, "work")
        self.expected = fixtures.expected_lifecycle(seed)
        # which file a warm pass replaces: a seeded rotation
        self.first_file = random.Random(f"rotate:{seed}").randrange(fixtures.FILES)

    def prepare(self) -> None:
        """Seeded dumps cached per seed and source hash; every run starts from a fresh copy
        and an empty work directory (untimed)."""
        if not os.path.isdir(self.inputs):
            tmp = self.inputs + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            fixtures.write_lifecycle(self.seed, tmp)
            os.replace(tmp, self.inputs)
        shutil.rmtree(self.run_dir, ignore_errors=True)
        shutil.copytree(self.inputs, self.src)

    def setup(self, hooks) -> None:
        from science_datalake_spark.session import get_spark

        # the session `cli update` itself would create
        self.spark = hooks.launch(get_spark, "sds-update")
        self.spark.range(1).count()

    def before_pass(self, pass_no: int) -> None:
        """Input arriving between updates (untimed)."""
        if pass_no == 0:
            return
        file_no = (self.first_file + pass_no - 1) % fixtures.FILES
        for source in fixtures.LIFECYCLE_ROWS:
            fixtures.write_lifecycle_file(self.src, source, self.seed, file_no, pass_no)

    def ops(self, pass_no: int, hooks):
        from science_datalake_spark import cli

        argv = ["update", "--work-dir", self.work]
        for source in fixtures.LIFECYCLE_ROWS:
            argv += [f"--{source}", os.path.join(self.src, source)]

        def update():
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                rc = hooks.update(cli.main, argv)
            return rc, out.getvalue()

        return [("cli update", update)]

    def check(self, name: str, output) -> str | None:
        rc, text = output
        got = {}
        for line in text.splitlines():
            m = _REPORT.match(line.strip())
            if m:
                got[("staged." if m.group(3) else "") + m.group(1)] = int(m.group(2))
        wrong = {k: (got.get(k), v) for k, v in self.expected.items() if got.get(k) != v}
        if rc != 0:
            failed = [line for line in text.splitlines() if "sanity FAIL" in line]
            return f"exit code {rc}: {failed}"
        return f"counts (got, expected): {wrong}" if wrong else None

    def counts(self) -> dict[str, int]:
        out = {f"rows.{s}": n for s, n in fixtures.LIFECYCLE_ROWS.items()}
        out["files_per_source"] = fixtures.FILES
        out.update({f"expected.{k}": v for k, v in self.expected.items()})
        return out

    def storage_ratio(self) -> float:
        """Bytes the lake stores per byte of NDJSON input."""
        stored = sum(
            common.tree_bytes(os.path.join(self.work, d))
            for d in ("converted", "unified_papers.parquet", "fulltext_papers.parquet")
        )
        return stored / common.tree_bytes(self.src)
