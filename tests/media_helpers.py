"""Test helper for the multimodal image path: a nearest-neighbour resize
over the same decode dispatch as `datapipe.multimodal.image_features`."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from graph_embeddings_spark.datapipe.multimodal import _decode_image


def resize_images(media: DataFrame, out_w: int = 4, out_h: int = 4) -> DataFrame:
    """images -> (media_id, resized binary): nearest-neighbor downsample of
    the decoded grid, re-encoded as raw bytes; NULL where no codec reads
    the payload (as in image_features)."""

    def resize(batches):
        for pdf in batches:
            ids, blobs = [], []
            for mid, payload, meta in zip(pdf["media_id"], pdf["payload"], pdf["meta"]):
                img = _decode_image(payload, int(meta["width"]), int(meta["height"]))
                if img is None:
                    out = None
                elif img.size == 0:
                    out = b""
                else:
                    ys = np.linspace(0, img.shape[0] - 1, out_h).astype(int)
                    xs = np.linspace(0, img.shape[1] - 1, out_w).astype(int)
                    out = img[np.ix_(ys, xs)].tobytes()
                ids.append(int(mid))
                blobs.append(out)
            yield pd.DataFrame({"media_id": ids, "resized": blobs})

    return (
        media.filter(F.col("kind") == "image")
        .select("media_id", "payload", "meta")
        .mapInPandas(resize, "media_id long, resized binary")
    )
