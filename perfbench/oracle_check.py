#!/usr/bin/env python3
"""Cross-check a batch workload's queries against the DuckDB oracle.

Usage: python3 perfbench/oracle_check.py [workload]   (default interactive_sf0.1)

Dumps the workload's queries on the benchmark's own inputs with the
engine's `graft.Verify` (built by run.py) and compares them with
`SparkEntry.oracleSql` in DuckDB through `tools/local_verify.py`, whose
canonicalisation (sorted columns and rows, dtype check) decides. Run it
whenever the expected fingerprints are re-recorded: they are only as good
as the outputs this check vouches for.
"""
import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    workload = sys.argv[1] if len(sys.argv) > 1 else "interactive_sf0.1"
    cfg = run.cfg_of(os.path.join(run.HERE, "workloads.json"))[workload]
    cp = run.build()
    sf_dir = run.ensure_inputs(cfg["sf"])
    with tempfile.TemporaryDirectory(dir=run.BUILD) as out:
        java = ["java"] + [a for o in run.ADD_OPENS for a in ("--add-opens", o + "=ALL-UNNAMED")]
        java += ["-Xmx4g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                 "-Djava.io.tmpdir=" + out, "-Dspark.local.dir=" + out,
                 "-Dlog4j2.configurationFile=" + os.path.join(run.HERE, "log4j2.properties"),
                 "-cp", cp, "graft.Verify", sf_dir, out] + cfg["queries"]
        env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=os.path.join(out, "warehouse"))
        subprocess.run(java, check=True, env=env, cwd=out)
        p = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "local_verify.py"),
                            out, sf_dir] + cfg["queries"])
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
