"""DuckDB references for the graft benchmark's outputs.

`registry_verdicts` runs the project's own correctness check,
scripts/check.py, on the dumped Spark results: each query's result
against its registered DuckDB oracle (`SparkEntry.oracleSql`).
`replay_counts` re-derives the SCC loader's filter counts with DuckDB's own
JSON reader.
"""
import os
import subprocess
import sys

import duckdb

CHECK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "scripts", "check.py")


def registry_verdicts(data_dir, dump_dir, names):
    """{query: "pass" | "fail: <why>"} for each dumped query result, from
    the PASS / FAIL lines scripts/check.py prints."""
    p = subprocess.run([sys.executable, CHECK, data_dir, dump_dir, *names],
                       capture_output=True, text=True, timeout=600)
    # check.py prints nothing for a query without an oracle
    out = {n: "fail: no oracle verdict" for n in names}
    for line in p.stdout.splitlines():
        verdict, _, rest = line.partition(" ")
        name = rest.split(":")[0].split(" ")[0]
        if name in out and verdict in ("PASS", "FAIL"):
            out[name] = "pass" if verdict == "PASS" else f"fail: {rest[len(name) + 1:].strip()}"
    if any(v != "pass" for v in out.values()):
        sys.stderr.write(p.stdout + p.stderr)
    return out


MESSAGES = ('STRUCT(body VARCHAR, "time" BIGINT, medium VARCHAR, '
            'is_inbound BOOLEAN)[]')


def replay_counts(split_dir):
    """Conversation and message counts after the loader's F1 (off-platform
    conversation), F2 (inbound) and F3 (non-empty body) filters."""
    con = duckdb.connect()
    con.execute(f"""CREATE VIEW conv AS SELECT * FROM read_json(
        '{split_dir}/**/*.json', format='unstructured',
        columns={{messages: '{MESSAGES}'}})""")
    con.execute("""CREATE VIEW kept AS SELECT * FROM conv WHERE len(list_filter(
        messages, m -> m.medium IN ('Instagram', 'Telegram'))) = 0""")
    q = lambda sql: con.execute(sql).fetchone()[0]
    counts = {
        "conversations": q("SELECT count(*) FROM conv"),
        "f1_conversations": q("SELECT count(*) FROM kept"),
        "f2_messages": q("""SELECT count(*) FROM (SELECT unnest(messages) AS m
            FROM kept) WHERE m.is_inbound"""),
        "f3_messages": q("""SELECT count(*) FROM (SELECT unnest(messages) AS m
            FROM kept) WHERE m.is_inbound AND m.body IS NOT NULL AND m.body <> ''"""),
    }
    con.close()
    return counts
