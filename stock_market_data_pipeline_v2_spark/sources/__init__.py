from .io import (  # noqa: F401
    load_table,
    read_csv,
    write_parquet,
    write_clustered,
)
