"""lake_mixed correctness: replay the run's operations on DuckDB.

The harness records, for every timed operation, its parameters, the
table version before and after it and, for reads, a fingerprint of the
result (count and sums, see LakeMixed.Fingerprint). This model applies
the same writes to the same generated input in DuckDB and checks every
read, every time-travel read and the final table against it.
"""
import duckdb


def _apply(con, w):
    kind = w["type"]
    if kind == "append":
        con.execute(f"INSERT INTO t BY NAME SELECT * FROM read_parquet('{w['src']}/*.parquet')")
    elif kind == "delete":
        con.execute(f"DELETE FROM t WHERE {w['pred']}")
    elif kind == "update":
        sets = ", ".join(f"{k} = {v}" for k, v in sorted(w["set"].items()))
        con.execute(f"UPDATE t SET {sets} WHERE {w['pred']}")
    elif kind == "merge":
        src = f"read_parquet('{w['src']}/*.parquet')"
        on = " AND ".join(f"t.{k} = s.{k}" for k in w["keys"])
        con.execute(f"DELETE FROM t USING {src} s WHERE {on}")
        con.execute(f"INSERT INTO t BY NAME SELECT * FROM {src}")
    else:
        raise ValueError(f"unknown write {kind}")


def check(res):
    info = res["info"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{info['base_input']}/*.parquet')")
    fp_sql = ", ".join(info["fingerprint"])

    def fp(where=None):
        q = f"SELECT {fp_sql} FROM t" + (f" WHERE {where}" if where else "")
        return [int(x) for x in con.execute(q).fetchone()]

    ops = [o for o in res["ops"] if o["id"] >= info["loop_start_op"]]
    bad = {}
    fp_at = {ops[0]["info"]["version_before"]: fp()} if ops else {}
    for o in ops:
        i = o["info"]
        if o["cls"] == "write" and i["version_after"] > i["version_before"]:
            _apply(con, i["write"])
        if o["error"]:
            continue
        if o["cls"] == "read":
            want = fp_at.get(i["at_version"]) if "at_version" in i else fp(i.get("pred"))
            if want != i.get("fp"):
                bad[o["id"]] = f"{o['kind']} result {i.get('fp')} != model {want}"
        if i["version_after"] not in fp_at:
            fp_at[i["version_after"]] = fp()
    if ops and info["final_fp"] != fp():
        bad[ops[-1]["id"]] = f"final table {info['final_fp']} != model {fp()}"
    return bad
