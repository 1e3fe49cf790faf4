package graft

import org.apache.spark.sql.functions.{col, xxhash64}
import org.scalatest.funsuite.AnyFunSuite

/** Behaviour lock for query results inside Tier-1: every query of the
  * text, ML, audio, image and video families runs at sf0.001 and must
  * reproduce its committed row count, schema and order-free fingerprint,
  * the wrapping sum of `xxhash64` over its columns sorted by name. The
  * fingerprint needs no sort and does not depend on partitioning, so a
  * refactor that changes any row fails here without the DuckDB gate.
  *
  * Spark's hash expressions hash −0.0 as 0.0 and every NaN bit pattern as
  * the one canonical NaN (the first test pins this), so floating-point
  * columns are hashed as they come.
  *
  * The locked values were generated from a tree that passes the DuckDB
  * oracle gate, with `sbt "Test/runMain graft.ResultLockSpec"`, which
  * prints the table below. Regenerate an entry only together with an
  * oracle run and a CHANGES.md note. Two generating JVMs printed the
  * same table.
  */
class ResultLockSpec extends AnyFunSuite {
  import ResultLockSpec._

  test("xxhash64 hashes -0.0 as 0.0 and every NaN as one value") {
    val s = SparkTestSession.get
    import s.implicits._
    def hashes[T: org.apache.spark.sql.Encoder](vs: Seq[T]): Set[Long] =
      vs.toDF("v").repartition(1).select(xxhash64(col("v")))
        .collect().map(_.getLong(0)).toSet
    val nanBits = Seq(0x7ff8000000000000L, 0x7ff8000000000001L, 0xfff8000000000000L)
    assert(hashes(Seq(0.0, -0.0)).size == 1)
    assert(hashes(nanBits.map(java.lang.Double.longBitsToDouble)).size == 1)
    assert(hashes(Seq(0.0f, -0.0f)).size == 1)
    assert(hashes(Seq(0x7fc00000, 0x7fc00001, 0xffc00000)
      .map(java.lang.Float.intBitsToFloat)).size == 1)
  }

  test("every query of the locked families has a locked entry") {
    val names = lockedQueries.map(_.name)
    assert(names.distinct == names)
    assert(names.toSet == locked.keySet,
      s"unlocked: ${names.filterNot(locked.contains)}; " +
        s"stale: ${locked.keys.filterNot(names.contains)}")
  }

  for (q <- lockedQueries; expected <- locked.get(q.name))
    test(s"${q.name} reproduces its locked row count and fingerprint") {
      val got = observe(q)
      assert(got.rows > 0 || knownEmpty(q.name), s"${q.name} returned no rows")
      assert(got.rows == expected.rows, s"${q.name}: rows ${got.rows}, locked ${expected.rows}")
      assert(got.schema == expected.schema,
        s"${q.name}: schema ${got.schema}, locked ${expected.schema}")
      assert(got.fingerprint == expected.fingerprint,
        s"${q.name}: fingerprint ${got.fingerprint}, locked ${expected.fingerprint}")
    }
}

object ResultLockSpec {
  final case class Lock(rows: Long, schema: String, fingerprint: Long)

  private val sf = "/root/testdata/sf0.001"

  /** No pair of the testdata's embeddings reaches cosine 0.9, at sf0.001,
    * sf0.01 and sf0.1 alike, so this query is locked by its schema.
    */
  private val knownEmpty = Set("q_embedding_near_dup")

  val lockedQueries: Seq[Queries.Q] = TextQueries.all ++ MlQueries.all ++
    AudioQueries.all ++ ImageQueries.all ++ VideoQueries.all

  def observe(q: Queries.Q): Lock = {
    val df = q.fn(SparkTestSession.get, sf)
    val hashes = df.select(xxhash64(df.columns.sorted.toSeq.map(col): _*))
      .collect().map(_.getLong(0))
    Lock(hashes.length.toLong, df.schema.simpleString, hashes.sum)
  }

  /** Prints the table for `locked`, one entry per line. */
  def main(args: Array[String]): Unit = {
    for (q <- lockedQueries) {
      val l = observe(q)
      println(s"""    "${q.name}" -> Lock(${l.rows}L, "${l.schema}", ${l.fingerprint}L),""")
    }
    SparkTestSession.get.stop()
  }

  val locked: Map[String, Lock] = Map(
    "q_dedup_exact" -> Lock(500L, "struct<h:string,cnt:bigint,canonical:bigint>", -1943317306680473726L),
    "q_token_count" -> Lock(500L, "struct<doc_id:bigint,n_tokens:bigint,n_chars_txt:bigint>", 6102584735144764808L),
    "q_token_bpe" -> Lock(500L, "struct<doc_id:bigint,n_subtokens:bigint,n_distinct_subtokens:bigint>", -2189226137865238291L),
    "q_tokenizer_fertility" -> Lock(5L, "struct<lang:string,n_docs:bigint,n_chars:bigint,n_subtokens:bigint,n_words:bigint,chars_per_subtoken_micro:bigint,subtokens_per_word_micro:bigint>", 4183914084114545208L),
    "q_text_normalize" -> Lock(500L, "struct<doc_id:bigint,norm_hash:string,norm_len:bigint>", -8021956020279142656L),
    "q_quality_score" -> Lock(500L, "struct<doc_id:bigint,n_words:bigint,n_stop:bigint,stop_ratio:double,avg_token_len:double>", -2324360588871236586L),
    "q_quality_logit" -> Lock(500L, "struct<doc_id:bigint,score_micro:bigint,keep:bigint>", -8213705494109974508L),
    "q_pagerank" -> Lock(500L, "struct<doc_id:bigint,pagerank_fix:bigint>", 2267298327124867606L),
    "q_lang_histogram" -> Lock(99L, "struct<lang:string,source:string,cnt:bigint,avg_chars:double>", 1022416204419216355L),
    "q_lang_id" -> Lock(500L, "struct<doc_id:bigint,lang:string,pred_lang:string>", 8157549130337845851L),
    "q_cohens_kappa" -> Lock(1L, "struct<n:bigint,agree:bigint,po_micro:bigint,pe_micro:bigint,kappa_micro:bigint>", -4281391285416522545L),
    "q_vocab_growth" -> Lock(256L, "struct<bucket:bigint,bucket_tokens:bigint,new_words:bigint,cum_tokens:bigint,cum_vocab:bigint>", 6568718710018660130L),
    "q_unicode_pipeline" -> Lock(500L, "struct<doc_id:bigint,norm_hash:string,norm_len:bigint,pred_lang:string>", 8616903521046178009L),
    "q_char_entropy" -> Lock(500L, "struct<doc_id:bigint,n_chars_tot:bigint,n_distinct_chars:bigint,entropy:double>", -1862208260827417608L),
    "q_dedup_report" -> Lock(1L, "struct<n_docs:bigint,n_exact_distinct:bigint,n_exact_redundant:bigint,n_in_near_groups:bigint,n_near_groups:bigint,near_removal_micro:bigint>", -6132079898370044069L),
    "q_bpe_merge_stats" -> Lock(20L, "struct<pair:string,cnt:bigint>", 3754589066366551687L),
    "q_bpe_merge_rounds" -> Lock(6L, "struct<round_id:bigint,l_sym:string,r_sym:string,pair_cnt:bigint>", -2399479618583883441L),
    "q_bpe_apply" -> Lock(500L, "struct<doc_id:bigint,n_chars_safe:bigint,n_bpe_tokens:bigint,tokens_per_char_micro:bigint>", -2361856855276715538L),
    "q_bpe_batch_rounds" -> Lock(12L, "struct<round_id:bigint,rank_in_round:bigint,l_sym:string,r_sym:string,pair_cnt:bigint>", 787969170730783014L),
    "q_doc_fingerprint" -> Lock(500L, "struct<doc_id:bigint,fingerprint:string>", 9134190892258087076L),
    "q_minhash_signature" -> Lock(500L, "struct<doc_id:bigint,mh0:string,mh1:string,mh2:string,mh3:string,mh4:string,mh5:string,mh6:string,mh7:string>", -1120701790581959081L),
    "q_minhash_lsh_pairs" -> Lock(32L, "struct<doc_a:bigint,doc_b:bigint>", 7794895723677119670L),
    "q_ngram_jaccard" -> Lock(32L, "struct<doc_a:bigint,doc_b:bigint,jaccard:double>", -5665355181802042938L),
    "q_minhash_recall" -> Lock(4L, "struct<threshold_pct:bigint,n_true:bigint,n_detected:bigint,recall_micro:bigint>", 5010361672702640530L),
    "q_dedup_groups" -> Lock(50L, "struct<doc_id:bigint,canonical_id:bigint>", 8927273443451432748L),
    "q_dedup_incremental" -> Lock(50L, "struct<doc_id:bigint,canonical_id:bigint>", 8927273443451432748L),
    "q_decontaminate" -> Lock(14L, "struct<doc_id:bigint,bench_id:bigint,n_shared:bigint>", 6457506615077584077L),
    "q_bloom_decontaminate" -> Lock(480L, "struct<doc_id:bigint,n_shingles:bigint,n_bloom_hits:bigint,n_exact_hits:bigint,n_false_pos:bigint,flagged:boolean>", 3581645164525922665L),
    "q_multimodal_meta" -> Lock(500L, "struct<doc_id:bigint,n_bytes:bigint,fake_width:bigint,fake_height:bigint>", -2881715282121617895L),
    "q_multimodal_features" -> Lock(500L, "struct<id:bigint,width:int,height:int,channels:int,n_bytes:bigint,brightness:double>", -8460695925287623339L),
    "q_multimodal_real_meta" -> Lock(500L, "struct<id:bigint,width:int,height:int,channels:int,n_bytes:bigint>", 8532573959339283138L),
    "q_vocab_df" -> Lock(20L, "struct<w:string,df:bigint>", -5655685225463672875L),
    "q_tfidf" -> Lock(4014L, "struct<doc_id:bigint,w:string,tfidf:double>", -1627843462685689471L),
    "q_stratified_sample" -> Lock(97L, "struct<doc_id:bigint,lang:string>", 2960723485180882410L),
    "q_repetition_ratio" -> Lock(500L, "struct<doc_id:bigint,n_bigrams:bigint,n_distinct_bigrams:bigint,rep_ratio:double>", -4424047127830007348L),
    "q_quality_filter" -> Lock(500L, "struct<doc_id:bigint,reason:string,keep:boolean>", -2904909888150243607L),
    "q_bow_fingerprint" -> Lock(500L, "struct<doc_id:bigint,n_distinct_words:bigint,bow_hash:string>", -3606443326515984955L),
    "q_zipf_rank" -> Lock(31L, "struct<w:string,cnt:bigint,rank:bigint>", 2440110579341192851L),
    "q_minhash_jaccard_est" -> Lock(32L, "struct<doc_a:bigint,doc_b:bigint,jaccard_est:double>", 2472089297620379935L),
    "q_containment" -> Lock(32L, "struct<doc_a:bigint,doc_b:bigint,containment:double>", 3133848410537986631L),
    "q_pack_sequences" -> Lock(500L, "struct<doc_id:bigint,lang:string,n_tokens:bigint,shard:bigint>", 6855130457195941932L),
    "q_train_split" -> Lock(500L, "struct<doc_id:bigint,split:string>", 6780524226653463312L),
    "q_split_leakage" -> Lock(6L, "struct<split:string,other_split:string,n_pairs:bigint,n_docs:bigint>", -4184480454371441789L),
    "q_epoch_shuffle" -> Lock(1000L, "struct<epoch:int,doc_id:bigint,shard:bigint,ord:string>", -3141075673862612976L),
    "q_group_cap" -> Lock(250L, "struct<doc_id:bigint,lang:string,rk:bigint>", 6301353396781261399L),
    "q_length_buckets" -> Lock(4L, "struct<bucket_len:bigint,n_docs:bigint,real_tokens:bigint,padded_tokens:bigint,waste_micro:bigint>", 7831485498238410774L),
    "q_psi_drift" -> Lock(12L, "struct<split:string,bin:bigint,psi_term_micro:bigint>", 5728771272328112329L),
    "q_dup_span_fraction" -> Lock(500L, "struct<doc_id:bigint,n_shingles:bigint,n_dup_shingles:bigint,dup_frac_micro:bigint>", -5782941582423809521L),
    "q_bigram_predictability" -> Lock(500L, "struct<doc_id:bigint,n_bigrams:bigint,sum_micro:bigint,pred_micro:bigint>", 5997497937624818304L),
    "q_doc_perplexity" -> Lock(50L, "struct<doc_id:bigint,n_bigrams:bigint,avg_nll_micro:bigint>", -8518877364173202277L),
    "q_line_dedup" -> Lock(500L, "struct<doc_id:bigint,n_segs:bigint,n_kept:bigint,clean_h:string,n_chars_clean:bigint>", -7258377231720932828L),
    "q_substring_dedup" -> Lock(500L, "struct<doc_id:bigint,n_tokens:bigint,n_spans:bigint,n_dup_tokens:bigint,dup_frac_micro:bigint>", -1925465826625916841L),
    "q_fuzzy_join" -> Lock(6L, "struct<w_a:string,w_b:string,dist:bigint>", 2704816068477456785L),
    "q_heavy_hitters_bound" -> Lock(10L, "struct<w:string,cnt:bigint,within_bound:bigint>", 7083913016013329403L),
    "q_near_dedup_keep" -> Lock(500L, "struct<doc_id:bigint,canonical_id:bigint,kept:bigint>", 2080693738609351347L),
    "q_source_overlap" -> Lock(190L, "struct<src_a:string,src_b:string,n_shared:bigint,jaccard_micro:bigint>", -954084783890282317L),
    "q_cross_source_dups" -> Lock(26L, "struct<source_a:string,source_b:string,n_pairs:bigint,jaccard_micro_sum:bigint>", -8310785672360720881L),
    "q_source_js_div" -> Lock(190L, "struct<source_a:string,source_b:string,jsd_micro:bigint>", 674028062687340774L),
    "q_source_mix" -> Lock(20L, "struct<source:string,n_docs:bigint,n_tokens:bigint,share_micro:bigint,weight_micro:bigint>", -4390863892585193757L),
    "q_temperature_mix" -> Lock(20L, "struct<source:string,n_tokens:bigint,share_micro:bigint,temp_share_micro:bigint,upsample_micro:bigint>", -7619141218684503041L),
    "q_pmi_cooccurrence" -> Lock(120L, "struct<w_a:string,w_b:string,n_both:bigint,pmi_micro:bigint>", 4889253222538292768L),
    "q_cdc_chunks" -> Lock(500L, "struct<doc_id:bigint,n_chunks:bigint,n_shared_chunks:bigint,shared_micro:bigint>", 5999295443125337994L),
    "q_graph_bfs" -> Lock(7L, "struct<doc_id:bigint,dist:bigint>", 2751509149044041246L),
    "q_ppjoin" -> Lock(348L, "struct<doc_a:bigint,n_pairs:bigint,sum_ni:bigint,sum_jacc_micro:bigint,xor_sig:bigint>", 3658948655501242153L),
    "q_ppjoin_pairs" -> Lock(32191L, "struct<doc_a:bigint,doc_b:bigint,ni:bigint,jacc_micro:bigint>", 605889963991908129L),
    "q_apply_mixture" -> Lock(500L, "struct<doc_id:bigint,source:string,weight_micro:bigint,kept:bigint>", -844888001589201582L),
    "q_array_ops" -> Lock(500L, "struct<doc_id:bigint,n_distinct:bigint,stops_present:string,n_content:bigint>", -5012692350935327047L),
    "q_token_budget" -> Lock(500L, "struct<doc_id:bigint,n_tok:bigint,kept:bigint>", -1025228676074749995L),
    "q_corpus_assembly" -> Lock(250L, "struct<doc_id:bigint,lang:string,split:string>", 825785696039320054L),
    "q_pii_scrub" -> Lock(500L, "struct<doc_id:bigint,n_email:bigint,n_phone:bigint,n_ip:bigint,redacted_hash:string>", -8238142343392074662L),
    "q_doc_chunks" -> Lock(1249L, "struct<doc_id:bigint,chunk_idx:bigint,n_chunk_tokens:bigint,chunk_hash:string>", -1920306555448973139L),
    "q_near_dedup_keep_pref" -> Lock(500L, "struct<doc_id:bigint,group_id:bigint,kept:bigint>", -8557558042518812954L),
    "q_quality_buckets" -> Lock(500L, "struct<doc_id:bigint,lang:string,stop_ratio_micro:bigint,bucket:string>", 7208765860756803010L),
    "q_training_examples" -> Lock(876L, "struct<doc_id:bigint,chunk_idx:bigint,n_chunk_tokens:bigint,chunk_hash:string,split:string>", 5034227155082849188L),
    "q_kmeans_assign" -> Lock(500L, "struct<id:bigint,cluster:int>", 7834147609432092621L),
    "q_kmeans_centers" -> Lock(640L, "struct<cluster:int,pos:bigint,c:double>", 4477064378098802302L),
    "q_kmeans_mllib_centers" -> Lock(640L, "struct<cluster:int,pos:bigint,c:double>", 4477064378098802302L),
    "q_bfr_assign" -> Lock(500L, "struct<id:bigint,cluster:int>", 8433199438448647352L),
    "q_bfr_stats" -> Lock(4L, "struct<round_id:int,nof_cluster_discard:int,nof_point_discard:bigint,nof_cluster_compression:int,nof_point_compression:bigint,nof_point_retained:bigint>", 4866761131408259474L),
    "q_kmeans_nmi" -> Lock(1L, "struct<nmi:double>", -3643796520817978304L),
    "q_nmi_lang_source" -> Lock(1L, "struct<nmi:double>", -8782252729527180197L),
    "q_ann_brute_force" -> Lock(15L, "struct<qid:bigint,cid:bigint,cos_sim:double,rn:bigint>", -4492719712787443838L),
    "q_ann_ivf" -> Lock(15L, "struct<qid:bigint,cid:bigint,cos_sim:double>", -6820545931294587303L),
    "q_ann_ivf_recall" -> Lock(5L, "struct<qid:bigint,recall3:double>", -8972139514740777026L),
    "q_ann_ivf_recall_curve" -> Lock(15L, "struct<nprobe:bigint,qid:bigint,recall3:double>", -6938934987146476628L),
    "q_semantic_knn" -> Lock(500L, "struct<vec_id:bigint,nn_id:bigint,cos_sim:double>", 8949758662927785314L),
    "q_semantic_dedup" -> Lock(500L, "struct<vec_id:bigint,kept:bigint>", 374652769769071962L),
    "q_embedding_near_dup" -> Lock(0L, "struct<ida:bigint,idb:bigint,cos_sim:double>", 0L),
    "q_embedding_near_dup_lsh" -> Lock(10L, "struct<ida:bigint,idb:bigint,cos_sim:double>", 6451764526734842039L),
    "q_embedding_near_dup_banded" -> Lock(27L, "struct<ida:bigint,idb:bigint,cos_sim:double>", -1335806048899995219L),
    "q_embedding_dedup_groups" -> Lock(51L, "struct<vec_id:bigint,canonical_id:bigint>", 638116926419636504L),
    "q_embedding_lsh_pairs" -> Lock(595L, "struct<ida:bigint,idb:bigint,bucket:string>", -4771538948129140620L),
    "q_simhash" -> Lock(500L, "struct<doc_id:bigint,simhash:bigint>", -6951149554200184412L),
    "q_simhash_pairs" -> Lock(54L, "struct<doc_a:bigint,doc_b:bigint,hamming:bigint>", 3203576957431180717L),
    "q_embedding_outliers" -> Lock(30L, "struct<vec_id:bigint,label:int,cos_centroid:double,rk:bigint>", 1084430689208611550L),
    "q_ann_pq" -> Lock(15L, "struct<qid:bigint,cid:bigint,adist_r:double,rn:bigint>", 7723039492793383561L),
    "q_ann_pq_recall" -> Lock(5L, "struct<qid:bigint,recall3_adc:double,recall3_rerank:double>", 4620732541926709772L),
    "q_ann_sq8" -> Lock(15L, "struct<qid:bigint,cid:bigint,cos_sim:double,rn:bigint>", -4492719712787443838L),
    "q_embedding_clusters" -> Lock(8L, "struct<cluster:bigint,n:bigint,sse_micro:bigint,exemplar:bigint,mean_dist2_micro:bigint>", 2101928113376623268L),
    "q_jl_projection" -> Lock(100L, "struct<vec_id:bigint,d_orig:double,d_proj:double,ratio_micro:bigint>", 6089634952831274823L),
    "q_audio_meta" -> Lock(500L, "struct<doc_id:bigint,sample_rate:bigint,channels:bigint,n_samples:bigint,duration_ms:bigint>", 7231174970994681764L),
    "q_audio_features" -> Lock(500L, "struct<doc_id:bigint,rms_milli:bigint,peak:bigint,zcr:bigint>", -6511379489385305918L),
    "q_audio_fingerprint" -> Lock(500L, "struct<doc_id:bigint,b0:bigint,b1:bigint,b2:bigint,b3:bigint>", -6930948211588301519L),
    "q_audio_near_dup" -> Lock(750L, "struct<id_a:bigint,id_b:bigint,hamming:bigint>", 5240023365821622188L),
    "q_audio_dedup_groups" -> Lock(500L, "struct<doc_id:bigint,canonical_id:bigint>", 4620371821016427910L),
    "q_multimodal_curation" -> Lock(500L, "struct<doc_id:bigint,img_dup:bigint,audio_dup:bigint,n_tokens:bigint,kept:bigint>", -7202565392784893820L),
    "q_audio_formats" -> Lock(500L, "struct<doc_id:bigint,channels:bigint,bits:bigint,n_frames_mono:bigint,rms_milli:bigint,peak:bigint,zcr:bigint>", -2261341815922070987L),
    "q_image_dhash" -> Lock(500L, "struct<doc_id:bigint,b0:bigint,b1:bigint,b2:bigint,b3:bigint,mean_luma_milli:bigint>", 2206831411737715109L),
    "q_image_near_dup" -> Lock(750L, "struct<id_a:bigint,id_b:bigint,hamming:bigint>", -6609629659764952449L),
    "q_image_dedup_groups" -> Lock(500L, "struct<doc_id:bigint,canonical_id:bigint>", 4620371821016427910L),
    "q_gif_dhash" -> Lock(500L, "struct<doc_id:bigint,b0:bigint,b1:bigint,b2:bigint,b3:bigint,mean_luma_milli:bigint>", 2206831411737715109L),
    "q_jpeg_dhash" -> Lock(500L, "struct<doc_id:bigint,b0:bigint,b1:bigint,b2:bigint,b3:bigint,mean_luma_milli:bigint>", 2206831411737715109L),
    "q_cross_codec_dups" -> Lock(500L, "struct<doc_id:bigint,png_gif_hamming:bigint,png_jpeg_hamming:bigint>", -1123655396934002660L),
    "q_jpeg_quarantine" -> Lock(2L, "struct<kind:string,n_docs:bigint,n_quarantined:bigint>", -934730451839751668L),
    "q_jpeg_progressive_dhash" -> Lock(500L, "struct<doc_id:bigint,b0:bigint,b1:bigint,b2:bigint,b3:bigint,mean_luma_milli:bigint>", 2206831411737715109L),
    "q_video_meta" -> Lock(500L, "struct<doc_id:bigint,duration_ms:bigint,n_tracks:bigint,video_w:bigint,video_h:bigint,video_timescale:bigint,n_frames:bigint,n_keyframes:bigint>", -4759975937773213230L),
    "q_video_keyframes" -> Lock(20230L, "struct<doc_id:bigint,sample_number:bigint,pts_ms:bigint>", -6303236375514818635L),
    "q_video_fingerprint" -> Lock(500L, "struct<doc_id:bigint,n_keyframes:bigint,b0:bigint,b1:bigint,b2:bigint,b3:bigint>", 44910398142506052L),
    "q_video_near_dup" -> Lock(750L, "struct<id_a:bigint,id_b:bigint,hamming:bigint>", 7401114054174778099L),
    "q_video_dedup_groups" -> Lock(500L, "struct<doc_id:bigint,canonical_id:bigint>", 4620371821016427910L),
    "q_video_kf_dhash" -> Lock(8000L, "struct<doc_id:bigint,k:bigint,b0:bigint,b1:bigint,b2:bigint,b3:bigint>", 2068835674210593720L),
    "q_video_scene_cuts" -> Lock(1382L, "struct<doc_id:bigint,k:bigint,hamming:bigint>", -5986400253280204447L))
}
