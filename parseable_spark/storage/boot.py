"""Storage-mode boot dispatch — the reference's CLI storage
subcommands (src/cli.rs:76-89: ``local-store`` / ``s3-store`` /
``blob-store`` / ``gcs-store``) mapped onto the metastore seam +
data-plane conf helpers.

``boot_storage(mode, root)`` wires the chosen backend's metastore and
returns the ``spark.hadoop.*`` conf a deployment applies for the
parquet data plane (empty for local-store). GCS has two auth paths:
NATIVE service-account OAuth (P_GCS_SERVICE_ACCOUNT → storage/gcs.py,
the JWT-bearer flow the reference's object_store builder runs — r6)
and the S3-interop fallback: Cloud Storage's XML API accepts AWS
Signature V4 with HMAC service keys (the documented interoperability
mode) against ``https://storage.googleapis.com``.
"""

from __future__ import annotations

import os


def gcs_config_from_env(env: dict[str, str] | None = None):
    """``gcs-store`` configuration (reference src/storage/gcs.rs:79-108:
    P_GCS_URL defaulting to the public endpoint + P_GCS_BUCKET), with
    HMAC interop keys (P_GCS_HMAC_KEY / P_GCS_HMAC_SECRET) standing in
    for the service-account flow the container cannot run."""
    from .objectstore import S3Config

    e = os.environ if env is None else env
    if not e.get("P_GCS_BUCKET"):
        raise ValueError("gcs-store mode requires env: P_GCS_BUCKET")
    ak, sk = e.get("P_GCS_HMAC_KEY", ""), e.get("P_GCS_HMAC_SECRET", "")
    if not (ak and sk):
        # fail LOUD at boot: a credential-less signing client would
        # boot fine and then 403 on the first metastore op (review
        # finding) — this backend has no anonymous mode
        raise ValueError(
            "gcs-store mode requires env: P_GCS_HMAC_KEY and "
            "P_GCS_HMAC_SECRET (HMAC interop keys)"
        )
    return S3Config(
        endpoint_url=e.get("P_GCS_URL", "https://storage.googleapis.com"),
        bucket=e["P_GCS_BUCKET"],
        region="auto",
        access_key=ak,
        secret_key=sk,
        use_path_style=True,
    )


def boot_storage(mode: str, root: str) -> dict[str, str]:
    """Install the metastore for a reference storage mode; returns the
    Spark data-plane conf to apply (may be empty). Unknown modes fail
    loud with the valid set, like clap would."""
    if mode == "local-store":
        from ..metastore import FilesystemMetastore, set_metastore

        set_metastore(FilesystemMetastore())
        return {}
    if mode == "s3-store":
        from .objectstore import use_s3_storage

        return use_s3_storage(root)
    if mode == "blob-store":
        from .azureblob import use_azure_storage

        return use_azure_storage(root)
    if mode == "gcs-store":
        from ..metastore import set_metastore

        if os.environ.get("P_GCS_SERVICE_ACCOUNT"):
            # native auth (r6): service-account JWT-bearer OAuth + the
            # GCS JSON API — what the reference's object_store builder
            # does with GOOGLE_SERVICE_ACCOUNT. Data-plane conf: the
            # GCS Hadoop connector jar isn't bundled with pyspark, so
            # this returns the documented keyfile conf for deployments
            # that add it; metastore traffic needs no jar at all.
            from ..session import REMOTE_LISTING_CONF
            from .gcs import GCSClient, GCSMetastore, gcs_native_config_from_env

            ncfg = gcs_native_config_from_env()
            client = GCSClient(ncfg)
            client.check()  # fail loud at boot, not on first op
            set_metastore(GCSMetastore(client, root))
            return {
                **REMOTE_LISTING_CONF,
                "spark.hadoop.fs.gs.auth.type": "SERVICE_ACCOUNT_JSON_KEYFILE",
                "spark.hadoop.fs.gs.auth.service.account.json.keyfile": (
                    os.environ["P_GCS_SERVICE_ACCOUNT"]
                ),
            }
        from .objectstore import S3Client, S3Metastore, s3a_spark_conf

        cfg = gcs_config_from_env()
        set_metastore(S3Metastore(S3Client(cfg), root))
        return s3a_spark_conf(cfg)
    raise ValueError(
        f"unknown storage mode {mode!r}; expected one of "
        "local-store, s3-store, blob-store, gcs-store"
    )
