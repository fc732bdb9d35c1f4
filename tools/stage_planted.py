#!/usr/bin/env python3
"""Stage a planted-margin ANN recall corpus from an embeddings table.

Usage: python3 tools/stage_planted.py <srcDir> <outDir> [pairsPerMargin=512]

<srcDir> is a testdata-style dir holding embeddings.parquet (file or
directory). The output dir gets:
  embeddings.parquet/   original files + one planted file
  planted_pairs.parquet (anchor_id, partner_id, margin)

For each of a fixed-count deterministic anchor sample (the
pairsPerMargin * |margins| ids with the smallest md5('pl_'||vec_id),
ties by id — constant per margin regardless of corpus size, so the
probe cost never scales with N), a partner vector is planted at an
EXACT fixed cosine to its anchor: p = c*e_hat + sqrt(1-c^2)*u, where
u is the Gram-Schmidt-orthogonalized md5-parity +-1/8 direction
(unit by construction). Margins {0.95, 0.8, 0.6} bracket the
semantic-dedup threshold (0.4) from above. Partner ids extend past
max(vec_id), so the background corpus is unchanged and the planted
mass is a vanishing fraction at scale (1,536 rows vs 128k at x64).

Purpose (VERDICT r14 #3): the i.i.d. synthetic corpus's true-10-NN
cosine margins shrink with N, so grid recall at fixed (delta, L)
decays with corpus growth for reasons unrelated to the index. Planted
pairs hold the neighbor margin constant across SFs, separating the
DATA effect (shrinking margins) from the INDEX effect (bits PROP
log N raising per-table selectivity on a fixed margin, the analytic
1-(1-p(c)^bits)^L curve). The `llm_ann_lsh_planted` key measures the
planted arm in-plan with the same "pr_<id>_<d>" tags; the
`llm_ann_lsh_tune_wide`/`_xl` grid keys measure the background arm.

Dev tooling only (python/duckdb are driver-side deps) - the shipped
library never reads this.
"""
import duckdb, sys, os, glob, shutil

MARGINS = [0.95, 0.8, 0.6]


def main():
    src, out = sys.argv[1], sys.argv[2]
    per = int(sys.argv[3]) if len(sys.argv) > 3 else 512
    total = per * len(MARGINS)
    emb_dir = os.path.join(out, "embeddings.parquet")
    os.makedirs(emb_dir, exist_ok=True)
    # original files: hardlink when possible (same fs), else copy
    src_emb = os.path.join(src, "embeddings.parquet")
    src_files = (sorted(glob.glob(os.path.join(src_emb, "*.parquet")))
                 if os.path.isdir(src_emb) else [src_emb])
    for i, f in enumerate(src_files):
        dst = os.path.join(emb_dir, f"orig{i:03d}.parquet")
        if not os.path.exists(dst):
            try:
                os.link(f, dst)
            except OSError:
                shutil.copyfile(f, dst)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW e AS SELECT * FROM "
                f"read_parquet('{emb_dir}/orig*.parquet')")
    margin_case = ("CASE ((rk - 1) // {per}) " +
                   " ".join(f"WHEN {i} THEN {m}" for i, m in
                            enumerate(MARGINS[:-1])) +
                   f" ELSE {MARGINS[-1]} END").format(per=per)
    planted = f"""
      WITH ranked AS (
        SELECT vec_id, embedding,
               row_number() OVER (ORDER BY md5('pl_' || vec_id), vec_id)
                 AS rk
        FROM e),
      m AS (SELECT max(vec_id) AS mx FROM e),
      base AS (
        SELECT a.vec_id AS anchor_id, m.mx + a.rk AS partner_id,
               CAST({margin_case} AS DOUBLE) AS margin,
               list_transform(a.embedding, x -> CAST(x AS DOUBLE)) AS ev,
               list_transform(range(0, 64), d ->
                 CASE WHEN (strpos('0123456789abcdef',
                        substring(md5('pr_' || a.vec_id || '_' || d), 1, 1))
                        - 1) % 2 = 0
                      THEN CAST(0.125 AS DOUBLE)
                      ELSE CAST(-0.125 AS DOUBLE) END) AS r
        FROM ranked a, m WHERE a.rk <= {total}),
      gs AS (
        SELECT *, sqrt(list_reduce(list_transform(ev, x -> x * x),
                                   (x, y) -> x + y)) AS en,
               list_reduce(list_transform(list_zip(ev, r),
                                          z -> z[1] * z[2]),
                           (x, y) -> x + y) AS er
        FROM base),
      orth AS (
        SELECT anchor_id, partner_id, margin, ev, en,
               list_transform(list_zip(r, ev),
                              z -> z[1] - (er / (en * en)) * z[2]) AS rp
        FROM gs),
      unitd AS (
        SELECT *, sqrt(list_reduce(list_transform(rp, x -> x * x),
                                   (x, y) -> x + y)) AS rpn
        FROM orth)
      SELECT anchor_id, partner_id, margin,
             list_transform(range(1, 65), i ->
               CAST(margin * (ev[i] / en)
                    + sqrt(1 - margin * margin) * (rp[i] / rpn)
                    AS FLOAT)) AS embedding
      FROM unitd"""
    con.execute(f"CREATE TABLE planted AS {planted}")
    con.execute(f"""COPY (SELECT partner_id AS vec_id, embedding,
                                 CAST(-1 AS INTEGER) AS label
                          FROM planted ORDER BY vec_id)
                    TO '{emb_dir}/planted.parquet' (FORMAT PARQUET)""")
    con.execute(f"""COPY (SELECT anchor_id, partner_id, margin
                          FROM planted ORDER BY partner_id)
                    TO '{out}/planted_pairs.parquet' (FORMAT PARQUET)""")
    n = con.sql(f"SELECT count(*) FROM "
                f"read_parquet('{emb_dir}/*.parquet')").fetchone()[0]
    chk = con.sql("""
      SELECT margin,
             min(list_reduce(list_transform(list_zip(p.embedding, e.embedding),
                   z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),
                   (x, y) -> x + y)
                 / (sqrt(list_reduce(list_transform(p.embedding,
                      x -> CAST(x AS DOUBLE) * x), (x, y) -> x + y))
                  * sqrt(list_reduce(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE) * x), (x, y) -> x + y)))) AS lo,
             max(list_reduce(list_transform(list_zip(p.embedding, e.embedding),
                   z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),
                   (x, y) -> x + y)
                 / (sqrt(list_reduce(list_transform(p.embedding,
                      x -> CAST(x AS DOUBLE) * x), (x, y) -> x + y))
                  * sqrt(list_reduce(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE) * x), (x, y) -> x + y)))) AS hi
      FROM planted p JOIN e ON p.anchor_id = e.vec_id
      GROUP BY margin ORDER BY margin""").fetchall()
    print(f"embeddings: {n} rows ({total} planted); "
          f"achieved cosine per margin (float32): {chk}")


if __name__ == "__main__":
    main()
