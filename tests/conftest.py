import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .appName("deezymatch-spark-tests")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def seeded_artifact(tmp_path_factory):
    """A small seeded, untrained siamese-GRU artifact over a-z, space
    and the affix char: no training run, so it is cheap to share."""
    from deezymatch_spark.api import DEFAULT_TOKENIZE
    from deezymatch_spark.model.numpy_rnn import SiameseRNN
    from deezymatch_spark.model.scorer_udf import save_artifacts

    vocab = {c: i + 1 for i, c in enumerate("|abcdefghijklmnopqrstuvwxyz ")}
    model = SiameseRNN.from_seed(
        9, len(vocab) + 1, hidden_dim=12, embedding_dim=8, n_layers=2,
        pooling_mode="hstates_layers_simple", fc1_out=16,
    )
    path = str(tmp_path_factory.mktemp("seeded") / "model")
    save_artifacts(path, model, vocab, dict(DEFAULT_TOKENIZE))
    return path
