#!/usr/bin/env python3
"""Compute the board-mix oracle answers and time DuckDB on them.

    python3 perfbench/oracle.py

Takes each board-mix query's oracle statement from the engine's own
declaration (`SparkEntry.oracleSql`, dumped by `perfbench.Main
oracle-sql`), runs it in DuckDB over the sf0.1 parquet tables, and
writes the answers in canonical form (columns sorted by name, rows
sorted; see canon.py) to perfbench/answers/board_sf0.1.json, with a
digest of every input table so a run on other data fails loudly. The
DuckDB wall time of each statement (one execution, all cores) is stored
beside the answers as an ungated reference point.
"""
import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import canon  # noqa: E402
import run  # noqa: E402

import duckdb  # noqa: E402


def main() -> None:
    classpath = build.build()
    data = run.data_dir()
    work = build.OUT / "work" / "oracle"
    work.mkdir(parents=True, exist_ok=True)
    sql_file = work / "oracle_sql.json"
    subprocess.run(["java", *run.JVM_OPTS, "-cp", classpath, "perfbench.Main", "oracle-sql",
                    str(sql_file)], check=True)
    statements = json.loads(sql_file.read_text())

    con = duckdb.connect()
    tables = sorted(p.name[:-len(".parquet")] for p in data.glob("*.parquet"))
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data / (t + '.parquet')}')")
    answers, seconds = {}, {}
    for name, sql in statements.items():
        t0 = time.perf_counter()
        cur = con.execute(sql)
        rows = cur.fetchall()
        seconds[name] = round(time.perf_counter() - t0, 3)
        cols = [d[0] for d in cur.description]
        cols, rows = canon.canonical(cols, [[canon.cell(v) for v in r] for r in rows])
        answers[name] = {"columns": cols, "rows": rows}
        print(f"{name}: {len(rows)} rows, {seconds[name]} s", file=sys.stderr)

    out = build.BENCH / "answers" / "board_sf0.1.json"
    out.parent.mkdir(exist_ok=True)
    head = {
        "generated_by": "perfbench/oracle.py",
        "tables": {t: run.table_digest(data, t) for t in tables},
        "duckdb": {"version": duckdb.__version__, "cpus": len(os.sched_getaffinity(0)),
                   "seconds": seconds, "total_s": round(sum(seconds.values()), 3)},
    }
    # one row per line, so a changed answer shows as a small diff
    lines = [json.dumps(head, indent=1)[:-2] + ',\n "answers": {']
    for i, (name, a) in enumerate(answers.items()):
        rows = ",\n".join("   " + json.dumps(r) for r in a["rows"])
        lines.append(f'  {json.dumps(name)}: {{"columns": {json.dumps(a["columns"])}, "rows": [\n'
                     f'{rows}\n  ]}}' + ("," if i < len(answers) - 1 else ""))
    lines.append(" }\n}\n")
    out.write_text("\n".join(lines))
    json.loads(out.read_text())  # the file must parse
    print(f"wrote {out.relative_to(build.ROOT)}; DuckDB total {head['duckdb']['total_s']} s",
          file=sys.stderr)


if __name__ == "__main__":
    main()
