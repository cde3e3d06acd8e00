"""``integrate_load``: the reference's load job (EP1 + EP2) plus its CDC feed.

One pass: read ``contacts.csv``/``contracts.csv``/``relations.xlsx`` →
profile (null counts, duplicate groups, common people) → clean phones →
resolve entities → assert the four primary keys → write the four tables
through the quality gate → drain the position change stream one dropped
file at a time into a parquet snapshot.

The oracle is a DuckDB twin over the same generated files: it replays the
cleaning, first-wins dedup, content-addressed keys and relation mapping,
and the last write per key of the change stream.
"""

from __future__ import annotations

import re
import shutil
import zipfile
import xml.etree.ElementTree as ET
from pathlib import Path

from perfbench import gen
from perfbench.harness import Run

NK = ["name", "first_name", "birthday"]
CONTACT_ORDER = ["civility", "entity_type", "address", "zip_code", "city", "country",
                 "phone_number"]
CONTRACT_ORDER = ["name", "first_name", "birthday", "open_at", "isin", "count", "unit_price",
                  "date_price", "value"]
PKS = {
    "entities": ["entity_id"],
    "contacts": ["entity_id"],
    "contracts": ["contract_number"],
    "relations": ["entity_id_source", "entity_id_destination", "relation_type"],
}
TABLE_COLUMNS = {
    "entities": ["entity_id", "name", "first_name", "birthday", "entity_type"],
    "contacts": ["entity_id", "civility", "address", "zip_code", "city", "country",
                 "phone_number"],
    "contracts": ["entity_id", "contract_number", "open_at", "isin", "count", "unit_price",
                  "date_price"],
    "relations": ["entity_id_source", "entity_id_destination", "relation_type"],
}
SNAPSHOT = "positions"


def input_rows(cfg: dict) -> int:
    return (cfg["contacts"] + cfg["contracts"] + cfg["relations"]
            + cfg["change_files"] * cfg["change_rows"])


def run_pass(run: Run, inp: Path, out: Path, cfg: dict) -> dict:
    """One full load; returns what the oracle checks."""
    from pyspark.sql import functions as F

    from data_integration_case_study_spark.functions import phone
    from data_integration_case_study_spark.operators import integrate, profile
    from data_integration_case_study_spark.sources import readers, sinks
    from data_integration_case_study_spark.streaming import cdc

    spark = run.spark

    def read_sources():
        frames = (
            readers.read_csv(spark, str(inp / "contacts.csv"), gen.CONTACTS_SCHEMA),
            readers.read_csv(spark, str(inp / "contracts.csv"), gen.CONTRACTS_SCHEMA),
            readers.read_xlsx(spark, str(inp / "relations.xlsx")),
        )
        return tuple(run.force(df) for df in frames)

    n_src = cfg["contacts"] + cfg["contracts"] + cfg["relations"]
    contacts, contracts, relations = run.op(
        "sources.readers", "read_sources", read_sources, rows_in=n_src)

    def profile_sources():
        report = {
            label: profile.null_counts(df).first().asDict()
            for label, df in (("contacts", contacts), ("contracts", contracts),
                              ("relations", relations))
        }
        report["dup_contacts"] = profile.duplicate_key_groups(contacts, NK).count()
        report["dup_contracts"] = profile.duplicate_key_groups(
            contracts, ["contract_number"]).count()
        report["common_people"] = run.call(
            "operators.integrate", "common_people",
            lambda: integrate.common_people(contacts, contracts).count(),
            rows_in=cfg["contacts"] + cfg["contracts"])
        return report

    report = run.op("operators.profile", "profile_sources", profile_sources, rows_in=n_src)

    cleaned = run.call(
        "functions", "parse_phone_number",
        lambda: run.force(contacts.withColumn(
            "phone_number", phone.parse_phone_number("phone_number"))),
        rows_in=cfg["contacts"])

    def resolve():
        tables = integrate.integration_pipeline(
            integrate.dedup_first_wins(cleaned, NK, CONTACT_ORDER),
            integrate.dedup_first_wins(contracts, ["contract_number"], CONTRACT_ORDER),
            relations,
            phone_column=None,
        )
        # resolved once, then checked and loaded from memory
        return {name: run.force(df.persist()) for name, df in tables.items()}

    tables = run.call("operators.integrate", "integration_pipeline", resolve, rows_in=n_src)

    for name, keys in PKS.items():
        run.op("sources.sinks", f"assert_unique_{name}",
               lambda: sinks.assert_unique(tables[name], keys))
    for name, keys in PKS.items():
        null_key = F.lit(False)
        for k in keys[:2]:
            null_key = null_key | F.col(k).isNull()
        expectations = {
            "n_rows": (F.count(F.lit(1)), lambda n: n > 0),
            "null_keys": (F.count(F.when(null_key, 1)), lambda n: n == 0),
        }
        run.op("sources.sinks", f"write_{name}",
               lambda: sinks.write_with_quality_gate(
                   tables[name], str(out / name), expectations))

    # the change stream: each file is dropped (atomic rename) into the
    # source directory, then drained into the snapshot
    src, ckpt, snap = out / "cdc_source", out / "cdc_checkpoint", out / SNAPSHOT
    src.mkdir()
    stream = {"add_batch_s": 0.0, "plan_s": 0.0, "wal_s": 0.0, "bytes_rewritten": 0}
    for f in sorted((inp / "changes").glob("*.parquet")):
        shutil.copy(f, out / f.name)
        (out / f.name).rename(src / f.name)

        def drain():
            q = cdc.run_streaming_merge(spark, str(src), change_schema(), str(snap),
                                        ["position_id"], "version", str(ckpt))
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            run.tracer.alias_current(str(q.runId))
            return q.recentProgress

        progress = run.op("streaming", f"cdc_batch_{f.stem}", drain,
                          rows_in=cfg["change_rows"])
        for p in progress:
            d = p.durationMs
            stream["add_batch_s"] += d.get("addBatch", 0) / 1000
            stream["plan_s"] += d.get("queryPlanning", 0) / 1000
            stream["wal_s"] += d.get("walCommit", 0) / 1000
        stream["bytes_rewritten"] += dir_bytes(snap)
    return {"report": report, "stream": stream}


def change_schema():
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    return StructType([
        StructField("position_id", StringType()),
        StructField("version", LongType()),
        StructField("quantity", DoubleType()),
        StructField("unit_price", DoubleType()),
        StructField("status", StringType()),
    ])


def dir_bytes(d: Path) -> int:
    return sum(p.stat().st_size for p in d.rglob("*.parquet"))


def output_dirs(out: Path) -> list[Path]:
    return [out / t for t in PKS] + [out / SNAPSHOT]


# --- oracle ------------------------------------------------------------------


def _ref_phone(raw: str | None) -> str | None:
    """The reference's ``parse_phone_number`` (normalize, then keep only
    possible numbers), written from its documented branch semantics."""
    if raw is None:
        return None
    norm = raw.replace(".", "-").replace(")", "-").replace("(", "")
    parts = norm.split("x")
    base, ext = parts[0], (parts[1] if len(parts) > 1 else None)
    groups = base.split("-")
    if len(norm) == 9:
        out = f"+33 {norm[0]} {norm[1:3]} {norm[3:5]} {norm[5:7]} {norm[7:9]}"
    elif len(norm) == 10 and norm[0] != "0":
        out = f"+1 {norm[:3]}-{norm[3:6]}-{norm[6:10]}"
    elif len(groups) == 3:
        out = "+1 " + base
    elif len(groups) == 4 and groups[0] in ("001", "+1"):
        out = "+1 " + "-".join(groups[1:4])
    else:
        out = ""
    if ext is not None:
        out = out + "x" + ext
    if out.startswith("+1 "):
        nat, want = out[3:], 10
    elif out.startswith("+33 "):
        nat, want = out[4:], 9
    else:
        return None
    nat = re.sub(r"[xX][0-9]{1,7}$", "", nat)
    return out if sum(ch.isdigit() for ch in nat) == want else None


def _xlsx_rows(path: Path) -> list[list]:
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as z:
        root = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    rows = []
    for row in root.iter(f"{ns}row"):
        vals: dict[int, str] = {}
        for c in row.iter(f"{ns}c"):
            letters = re.match(r"[A-Z]+", c.get("r")).group(0)
            col = 0
            for ch in letters:
                col = col * 26 + ord(ch) - 64
            vals[col - 1] = "".join(t.text or "" for t in c.iter(f"{ns}t"))
        rows.append([vals.get(i) for i in range(len(gen.RELATIONS_COLUMNS))])
    return rows[1:]


def _key_sql(*exprs: str) -> str:
    parts = ", ".join(f"COALESCE(CAST(({e}) AS VARCHAR), chr(30))" for e in exprs)
    return f"sha256(concat_ws(chr(31), {parts}))"


def oracle(inp: Path) -> dict:
    """A DuckDB connection holding the expected tables, profile and snapshot."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    varchar = lambda cols: "{" + ", ".join(f"'{c}': 'VARCHAR'" for c in cols) + "}"  # noqa: E731
    con.execute(f"""CREATE TABLE contacts_raw AS SELECT * FROM read_csv(
        '{inp / "contacts.csv"}', delim=';', header=true,
        columns={varchar(gen.CONTACTS_COLUMNS)})""")
    kcols = "{" + ", ".join(
        f"'{c}': '{'DOUBLE' if c in ('count', 'unit_price', 'value') else 'VARCHAR'}'"
        for c in gen.CONTRACTS_COLUMNS) + "}"
    con.execute(f"""CREATE TABLE contracts_raw AS SELECT * FROM read_csv(
        '{inp / "contracts.csv"}', delim=';', header=true, columns={kcols})""")
    rel = pd.DataFrame(_xlsx_rows(inp / "relations.xlsx"), columns=gen.RELATIONS_COLUMNS)
    con.register("relations_df", rel)
    con.execute("CREATE TABLE relations_raw AS SELECT * FROM relations_df")
    phones = con.execute("SELECT DISTINCT phone_number FROM contacts_raw").fetchall()
    con.register("phone_df", pd.DataFrame(
        [(p, _ref_phone(p)) for (p,) in phones], columns=["raw", "clean"]))
    con.execute("CREATE TABLE phone_map AS SELECT * FROM phone_df WHERE raw IS NOT NULL")

    fr = "try_strptime({}, '%d/%m/%Y')::DATE"
    iso = "try_strptime({}, '%Y-%m-%d')::DATE"
    order_c = ", ".join(f"{c} ASC NULLS LAST" for c in CONTACT_ORDER)
    order_k = ", ".join(f"{c} ASC NULLS LAST" for c in CONTRACT_ORDER)
    etype = "CASE WHEN first_name IS NULL AND birthday IS NULL THEN 'PM' ELSE 'PF' END"
    con.execute(f"""
    CREATE TABLE contacts_d AS
    SELECT * EXCLUDE (rn, birthday), {fr.format('birthday')} AS birthday FROM (
      SELECT c.* REPLACE (m.clean AS phone_number),
             row_number() OVER (PARTITION BY c.name, c.first_name, c.birthday
                                ORDER BY {order_c.replace('phone_number', 'm.clean')}) AS rn
      FROM contacts_raw c LEFT JOIN phone_map m ON c.phone_number = m.raw)
    WHERE rn = 1;
    CREATE TABLE contracts_d AS
    SELECT * EXCLUDE (rn, birthday, open_at, date_price),
           {fr.format('birthday')} AS birthday, {fr.format('open_at')} AS open_at,
           {fr.format('date_price')} AS date_price FROM (
      SELECT *, row_number() OVER (PARTITION BY contract_number ORDER BY {order_k}) AS rn
      FROM contracts_raw)
    WHERE rn = 1;
    CREATE TABLE relations_ok AS
    SELECT * REPLACE ({iso.format('birthday_s')} AS birthday_s,
                      {iso.format('birthday_d')} AS birthday_d)
    FROM relations_raw WHERE first_name_s IS NOT NULL AND first_name_d IS NOT NULL;
    CREATE TABLE exp_entities AS
    SELECT {_key_sql('name', 'first_name', 'birthday', 'entity_type')} AS entity_id, * FROM (
      SELECT name, first_name, birthday, entity_type FROM contacts_d
      UNION SELECT name, first_name, birthday, {etype} FROM contracts_d
      UNION SELECT name_s, first_name_s, birthday_s, 'PF' FROM relations_ok
      UNION SELECT name_d, first_name_d, birthday_d, 'PF' FROM relations_ok);
    CREATE TABLE exp_contacts AS
    SELECT {_key_sql('name', 'first_name', 'birthday', "COALESCE(entity_type, 'PF')")}
             AS entity_id, civility, address, zip_code, city, country, phone_number
    FROM contacts_d;
    CREATE TABLE exp_contracts AS
    SELECT {_key_sql('name', 'first_name', 'birthday', etype)} AS entity_id,
           contract_number, open_at, isin, count, unit_price, date_price
    FROM contracts_d;
    CREATE TABLE exp_relations AS
    SELECT {_key_sql('name_s', 'first_name_s', 'birthday_s', "'PF'")} AS entity_id_source,
           {_key_sql('name_d', 'first_name_d', 'birthday_d', "'PF'")} AS entity_id_destination,
           CASE relation_type WHEN 'espoux (e) de' THEN 'SPOUSE_OF'
                              WHEN 'parent (e) de' THEN 'PARENT_OF'
                              WHEN 'enfant (e) de' THEN 'CHILD_OF' END AS relation_type
    FROM relations_ok;
    CREATE TABLE exp_{SNAPSHOT} AS
    SELECT * EXCLUDE (rn) FROM (
      SELECT *, row_number() OVER (PARTITION BY position_id ORDER BY version DESC) AS rn
      FROM read_parquet('{inp / "changes" / "*.parquet"}'))
    WHERE rn = 1;
    """)
    return {"con": con, "report": expected_report(con)}


def expected_report(con) -> dict:
    q = lambda sql: con.execute(sql).fetchone()  # noqa: E731
    report = {}
    for label, cols in (("contacts", gen.CONTACTS_COLUMNS),
                        ("contracts", gen.CONTRACTS_COLUMNS),
                        ("relations", gen.RELATIONS_COLUMNS)):
        row = q(f"SELECT {', '.join(f'count(*) - count({c})' for c in cols)} "
                f"FROM {label}_raw")
        report[label] = dict(zip(cols, row))
    report["dup_contacts"] = q(
        "SELECT count(*) FROM (SELECT 1 FROM contacts_raw GROUP BY name, first_name, "
        "birthday HAVING count(*) > 1)")[0]
    report["dup_contracts"] = q(
        "SELECT count(*) FROM (SELECT 1 FROM contracts_raw GROUP BY contract_number "
        "HAVING count(*) > 1)")[0]
    report["common_people"] = q(
        "SELECT count(*) FROM contacts_raw c WHERE EXISTS (SELECT 1 FROM contracts_raw k "
        "WHERE k.name = c.name AND k.first_name = c.first_name "
        "AND k.birthday = c.birthday)")[0]
    return report


def verify(run: Run, ora: dict, result: dict, out: Path) -> None:
    """Raises ``WrongResult`` naming every table that differs."""
    con, wrong = ora["con"], []
    if result["report"] != ora["report"]:
        wrong.append("profile")
    for table, cols in (*TABLE_COLUMNS.items(), (SNAPSHOT, None)):
        sel = ", ".join(cols) if cols else "*"
        got = f"SELECT {sel} FROM read_parquet('{out / table}/*.parquet')"
        exp = f"SELECT {sel} FROM exp_{table}"
        diff = con.execute(
            f"SELECT count(*) FROM (({got} EXCEPT ALL {exp}) UNION ALL "
            f"({exp} EXCEPT ALL {got}))").fetchone()[0]
        if diff:
            wrong.append(f"{table} ({diff} rows differ)")
    if wrong:
        run.wrong("integrate_load: " + ", ".join(wrong))


def layer_extras(run: Run, ora: dict, results: list[dict], out: Path) -> dict:
    con, n = ora["con"], len(results)
    stream = {k: sum(r["stream"][k] for r in results) / n for k in results[0]["stream"]}
    tables = [out / t for t in PKS]
    entities = con.execute("SELECT count(*) FROM exp_entities").fetchone()[0]
    rows_in = con.execute(
        "SELECT (SELECT count(*) FROM contacts_raw) + (SELECT count(*) FROM contracts_raw)"
        " + (SELECT count(*) FROM relations_raw)").fetchone()[0]
    return {
        "operators.integrate.entities_per_row": entities / rows_in,
        "sources.sinks.bytes_written": sum(dir_bytes(t) for t in tables),
        "sources.sinks.files_written": sum(len(list(t.glob("*.parquet"))) for t in tables),
        "streaming.add_batch_s": stream["add_batch_s"],
        "streaming.plan_s": stream["plan_s"],
        "streaming.wal_s": stream["wal_s"],
        "streaming.bytes_rewritten": stream["bytes_rewritten"],
    }
