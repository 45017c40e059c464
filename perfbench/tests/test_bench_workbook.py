"""The workbook generator's truth against the real pipeline."""

import os
import shutil

import pyarrow.parquet as pq
import pytest

import workbook_gen


def test_full_shape_row_count():
    grids, truth = workbook_gen.make_workbook(1)
    assert len(grids) == 14
    assert truth.rows == 48_132 and truth.months == 252
    # the excluded sheets yield no fact rows; per-sheet truth adds up
    assert "TOTAL" not in truth.sheets and "CONSUMO POR UF" not in truth.sheets
    assert sum(r for r, _ in truth.sheets.values()) == truth.rows
    assert sum(h for _, h in truth.sheets.values()) == sum(h for _, h in truth.keys.values())


def test_same_seed_same_workbook():
    assert workbook_gen.make_workbook(5, 2) == workbook_gen.make_workbook(5, 2)
    assert workbook_gen.make_workbook(5, 2)[0] != workbook_gen.make_workbook(6, 2)[0]


def test_compact_sheet_set_keeps_the_split_sheet():
    with pytest.raises(ValueError):
        workbook_gen.make_workbook(1, 2, ("TOTAL", "CATIVO"))


def test_truth_matches_pipeline_on_two_year_workbook(spark, tmp_path):
    from epe_data_wrangling_spark.plans.epe_pipeline import run_pipeline, write_fact
    from epe_data_wrangling_spark.sources.workbook import grid_to_df, read_workbook_grids
    from epe_data_wrangling_spark.sources.xls_biff import write_xls

    grids, truth = workbook_gen.make_workbook(3, n_years=2)
    xls = write_xls(os.path.join(tmp_path, "wb.xls"), grids)
    sheets = {s: grid_to_df(spark, g, s) for s, g in read_workbook_grids(xls).items()}
    out = os.path.join(tmp_path, "fact")
    write_fact(run_pipeline(spark, sheets), out)
    table = pq.read_table(out)
    got = {}
    for key, valor in zip(table["chave_seletora"].to_pylist(), table["valor"].to_pylist()):
        cur = got.setdefault(key, [0, 0])
        cur[0] += 1
        cur[1] += int(valor * 2)
    assert got == truth.keys
    assert table.num_rows == truth.rows == 2 * 12 * 191
    shutil.rmtree(out)
