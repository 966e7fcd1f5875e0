import pytest
from pyspark.sql import functions as F

from wavelet_decomposition_spark.operators import multimodal, textstats

SF = "/root/testdata/sf0.001"


def test_doc_stats_basic(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    stats = textstats.doc_stats(docs).cache()
    assert stats.count() == docs.count()
    pdf = stats.toPandas()
    assert (pdf.n_chars > 0).all()
    assert (pdf.n_words > 0).all()
    assert (pdf.n_tokens >= pdf.n_words).all()
    assert pdf.quality_score.between(0, 1).all()
    assert pdf.fingerprint.str.len().eq(32).all()


def test_lang_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and the dog is here"),
            (2, "le chat est sur la table et les chiens"),
            (3, "der hund und die katze das ist gut"),
            (4, "qwx zzk vvp"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.lang
        for r in df.select(
            "doc_id", textstats.lang_id().alias("lang")
        ).collect()
    }
    assert got[1] == "en"
    assert got[2] == "fr"
    assert got[3] == "de"
    assert got[4] == "und"


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, " HELLO\tWORLD ")],
        "doc_id long, text string",
    )
    fps = df.select(textstats.fingerprint().alias("fp")).distinct()
    assert fps.count() == 1


def test_multimodal_fake_features_deterministic(spark):
    assets = multimodal.synthetic_assets(spark, 50, seed=3).cache()
    f1 = multimodal.extract_features(assets, fake=True).orderBy("asset_id").toPandas()
    f2 = multimodal.extract_features(assets, fake=True).orderBy("asset_id").toPandas()
    assert len(f1) == 50
    assert all(len(v) == multimodal.FEATURE_DIM for v in f1.feature)
    for a, b in zip(f1.feature, f2.feature):
        assert list(a) == list(b)


def test_multimodal_decode_stub_raises(spark):
    assets = multimodal.synthetic_assets(spark, 5)
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.extract_features(assets, fake=False).collect()


def test_resize_and_frame_sample_plans(spark):
    assets = multimodal.synthetic_assets(spark, 80, seed=1).cache()
    rz = multimodal.resize_plan(assets, max_side=512).toPandas()
    assert (rz[["target_width", "target_height"]].max(axis=1) <= 512).all()
    fs = multimodal.frame_sample_plan(assets, every_ms=1000)
    joined = fs.join(assets, "asset_id").filter(
        F.col("frame_ms") >= F.col("duration_ms") + 1000
    )
    assert joined.count() == 0
    assert fs.count() > 0
